"""Output checks for declared-sweep entries.

Entries with oracle SQL are compared with DuckDB by the repository's
own oracle compare, tools/check_oracle.py (columns sorted by name, then
row count, column types and values). The entries pinned to sf0.01
goldens are also compared against a result hash recorded once from the
seed commit (sweep_goldens.json).
"""
import glob
import hashlib
import json
import re
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

GOLDENS = Path(__file__).resolve().parent / "sweep_goldens.json"


def table_hash(table):
    """SHA-256 of a result table: columns by name, rows sorted, as CSV."""
    df = table.select(sorted(table.column_names)).to_pandas()
    cols = list(df.columns)
    df = df.sort_values(cols, kind="mergesort").reset_index(drop=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def golden_check(out, name, golden):
    files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
    if table_hash(pq.read_table(files)) != golden:
        return False, "result hash differs from the recorded golden"
    return True, "golden hash"


def duckdb_check(out, sfdir, checker, timeout):
    """Run check_oracle.py over <out>; returns {entry: (ok, detail)}."""
    r = subprocess.run([sys.executable, str(checker), str(out), str(sfdir)],
                       capture_output=True, text=True, timeout=timeout)
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(OK|FAIL)\s+(\S+?):?\s+(.*)$", line)
        if m:
            verdicts[m.group(2)] = (m.group(1) == "OK", m.group(3))
    return verdicts, r


def compare(out, sfdir, names, checker, timeout):
    sql = json.loads((Path(out) / "oracle_sql.json").read_text())
    goldens = json.loads(GOLDENS.read_text())
    verdicts, proc = duckdb_check(out, sfdir, checker, timeout) if sql else ({}, None)
    report = []
    for name in names:
        ok, detail = True, "output written"
        try:
            if not glob.glob(f"{out}/{name}/*.parquet"):
                ok, detail = False, "no spark output"
            elif name in goldens:
                ok, detail = golden_check(out, name, goldens[name])
            if ok and name in sql:
                ok, detail = verdicts.get(name, (False, "no verdict from the oracle compare: "
                                                 + (proc.stderr.strip()[-300:] if proc else "")))
        except Exception as e:  # a failing compare is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        report.append({"name": f"oracle/{name}", "ok": ok, "detail": detail})
    return report
