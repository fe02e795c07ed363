"""The benchmark's workloads: which registry keys a pass calls, on which
data, and how the seed draws each call's `spark.graft.param.*` values.

A workload run is a cold pass, the correctness gate, then warm passes. Every
pass calls each key of the mix once, in an order the seed shuffles per
pass, with parameters the seed draws per call. The correctness gate calls the same keys once more with no
parameters set (the oracle-pinned defaults).
"""
import math
import random

TOPICS = ["Depression", "Anxiety", "Trauma", "Interpersonal", "Identity",
          "Adjustment", "Behavior", "Wellness", "Cognition", "Grief & Loss",
          "Self-Compassion"]
N_VECTORS = 2000  # sf0.1 embeddings: vec_id 0..1999, in the replica too


def _sim_topk(r):
    return {"sim_topk.k": r.randint(3, 10),
            "sim_topk.query_id": r.randrange(N_VECTORS)}


def _bm25(r):
    return {"bm25_topk.k": r.randint(5, 20)}


def _high_quality(r):
    return {"high_quality.min_effectiveness": r.choice([0.5, 0.6, 0.7, 0.8, 0.9]),
            "high_quality.limit": r.randint(20, 200),
            "high_quality.topic": r.choice(TOPICS)}


def _topic_interactions(r):
    return {"topic_interactions.topic": r.choice(TOPICS),
            "topic_interactions.limit": r.randint(1, 5)}


def _history(r):
    return {"conversation_history.limit": r.randint(3, 10)}


def _none(r):
    return {}


# Warm calls a run makes at least: with fewer, the tail percentile (10
# calls beyond it, see metrics.py) sits within a few ranks of the median.
MIN_WARM_CALLS = 28
# The correctness gate runs between the cold pass and the warm ones (see
# Driver.scala): the first pass after the cold one still runs while the
# JIT compiles the data path, and its heaviest calls took up to 2.9x
# their later time, so that pass is the gate's, outside every timed
# window.


class Workload:
    def __init__(self, name, data, pass_s, mix, why):
        self.name = name
        self.data = data      # "sf0.1" or "x10"
        self.pass_s = pass_s  # nominal warm pass on 4 cores, sizes the run
        self.mix = mix        # [(key, parameter sampler)], one call each
        assert len({k for k, _ in mix}) == len(mix), f"{name}: repeated key"
        self.why = why

    def warm_passes(self, seconds, traced):
        """Warm passes that fill `seconds` at the nominal pass time and
        make at least MIN_WARM_CALLS calls. A traced run alternates traced
        and untraced passes, so it runs an even number, at least four."""
        n = max(math.ceil(MIN_WARM_CALLS / len(self.mix)),
                round(seconds / self.pass_s))
        return max(4, n + n % 2) if traced else n

    def plan(self, seed, seconds, traced):
        """(passes, first warm pass, traced pass indices): the cold pass,
        then the warm passes. A traced run traces the cold pass and every
        other warm pass."""
        warm = self.warm_passes(seconds, traced)
        first = 1
        passes = self.passes(seed, first + warm)
        tr = [0] + list(range(first, first + warm, 2)) if traced else []
        return passes, first, tr

    @property
    def keys(self):
        return [k for k, _ in self.mix]

    def passes(self, seed, n):
        """`n` passes of (key, params) calls; pass 0 is the cold pass."""
        r = random.Random(f"{self.name}:{seed}")
        out = []
        for _ in range(n):
            calls = list(self.mix)
            r.shuffle(calls)
            out.append([{"key": k, "params": {p: str(v) for p, v in
                                              draw(r).items()}}
                        for k, draw in calls])
        return out


# Every pass calls each key once. Call times cluster by key, and with K
# keys and P passes the nearest-rank median is call ceil(K*P/2): for an
# even K that is always the slowest call of one key or the fastest of the
# next, so each mix has an odd number of keys. README.md says why these
# keys and not others.
WORKLOADS = {w.name: w for w in [
    Workload("rag_surface", "sf0.1", 4.4, [
        ("sim_topk", _sim_topk),
        ("bm25_topk", _bm25),
        ("hybrid_retrieve", _bm25),
        ("ndcg_eval", _none),  # builds its two arms through Par.build
        ("conversation_history", _history),
        ("topic_interactions", _topic_interactions),
        ("high_quality_topic", _high_quality),
        ("template_classify", _none),
        ("safety_screen", _none),
        ("toxicity_screen", _none),
        ("kb_ingest", _none),
    ], "the paper's interactive calls on sf0.1: short calls where per-call "
       "overhead dominates, and the first-call builds of the bm25 artifacts"),
    Workload("scale_x10", "x10", 4.8, [
        ("q17_small_qty", _none),
        ("q10_returns", _none),
        ("q19_disjunct", _none),
        ("kb_ingest", _none),
        ("token_count", _none),
        ("sim_topk", _sim_topk),
        ("dedup_exact", _none),
    ], "star-schema, document and vector queries on the 10x replica: scan "
       "volume and task CPU dominate, not the driver; token_count's "
       "first-call artifact is 10x larger"),
]}
