"""The benchmark's inputs.

`SF01` is a verbatim copy of the sf0.1 test corpus described in the
repo's TESTDATA.md (seed 42): the ten graft tables, kept inside the
benchmark's directory because a run reads only its own checkout.

`replica` builds the N-fold copy the scale workload runs on by running
the repo's own tools/scale_probe.py on that copy, once per checkout.
"""
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

from .build import BENCH_DIR, ROOT

SF01 = BENCH_DIR / "data" / "sf0.1"


def replica(dst: Path, factor=10, src: Path = SF01):
    """`factor`-fold replica of `src` in `dst` (skipped when complete)."""
    dst = Path(dst)
    done = dst / "MANIFEST.json"
    if done.is_file():
        return json.loads(done.read_text())
    part = dst.with_name(dst.name + ".partial")
    shutil.rmtree(part, ignore_errors=True)
    part.mkdir(parents=True)
    # DuckDB spills to ./.tmp: keep it inside the partial dir
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "scale_probe.py"), str(src),
         str(part), str(factor)],
        cwd=part, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise RuntimeError("tools/scale_probe.py failed:\n" + out.stderr[-2000:])
    shutil.rmtree(part / ".tmp", ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    part.rename(dst)
    manifest = describe(dst)
    done.write_text(json.dumps(manifest, sort_keys=True))
    return manifest


def describe(d: Path):
    """Row and byte counts per table."""
    rows, size = {}, {}
    for p in sorted(Path(d).glob("*.parquet")):
        rows[p.stem] = pq.ParquetFile(p).metadata.num_rows
        size[p.stem] = os.path.getsize(p)
    return {"rows": rows, "bytes": size, "total_bytes": sum(size.values())}
