"""Correctness gate: graft's gate outputs against the DuckDB oracle.

The Driver writes each mix key's default-parameter output as parquet,
one dir per key, and `oracle_sql.json` with each key's
`SparkEntry.oracleSql` into the gate dir. The repo's own gate,
tools/oracle_check.py, then compares them: its type lint of the oracle
SQL, column names (sorted), row count and canonical row hash. A key
whose graft call threw has no output dir and fails there as
"no spark output".
"""
import json
import subprocess
import sys

from .build import ROOT


def verdicts(records, log_lines):
    """{key: None if it matches, else the reason} from oracle_check's
    per-key records and its output lines (for type-lint failures)."""
    out = {k: (None if r["schema_match"] and r["rows_match"] and r["hash_match"]
               else r["err"] or "mismatch")
           for k, r in records.items()}
    for line in log_lines:
        if line.startswith("LINT FAIL "):
            key, _, why = line[len("LINT FAIL "):].partition(": ")
            out[key] = out.get(key) or f"type lint: {why}"
    return out


def check(gate_dir, data_dir, log_path, timeout):
    """Runs tools/oracle_check.py over `gate_dir`; returns `verdicts`."""
    rec_path = gate_dir / "verdicts.json"
    with open(log_path, "w") as log:
        # DuckDB spills to ./.tmp: run inside the gate dir
        proc = subprocess.run(
            [sys.executable, str(ROOT / "tools" / "oracle_check.py"),
             str(gate_dir), str(data_dir), "--json", str(rec_path)],
            cwd=gate_dir, stdout=log, stderr=subprocess.STDOUT, timeout=timeout)
    lines = log_path.read_text().splitlines()
    if not rec_path.is_file():
        raise RuntimeError(f"tools/oracle_check.py exited with {proc.returncode}:\n"
                           + "\n".join(lines[-20:]))
    v = verdicts(json.loads(rec_path.read_text()), lines)
    if proc.returncode != 0 and not any(v.values()):
        v["oracle_check"] = f"exit code {proc.returncode}"
    return v
