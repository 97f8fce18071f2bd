"""Output checker, run as its own process by run.py.

    python3 perfbench/check.py <truth.json>

Reads one pickled request per operation from stdin and writes back the
pickled list of problems found (empty when the output is correct):

- ``("etl_ingest", summary, out_dir)``: every planted field of
  ``summary()`` and the row count of every parquet under ``out_dir``;
- ``("registry_reports", {entry: (columns, rows)})``: each entry's
  collected rows, canonicalised as ``tests/oracle_compare.py`` does,
  against its DuckDB oracle result.

Running in its own process keeps pyarrow and the oracle module's DuckDB
import out of the driver's peak RSS.
"""

from __future__ import annotations

import json
import os
import pickle
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check_etl(truth: dict, summary: dict, out_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    problems = [f"summary {k}: {summary.get(k)!r} != planted {v!r}"
                for k, v in truth["summary"].items() if summary.get(k) != v]
    for name, rows in truth["parquet_rows"].items():
        path = os.path.join(out_dir, name)
        got = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                  for f in os.listdir(path) if f.endswith(".parquet"))
        if got != rows:
            problems.append(f"{name}: {got} rows != planted {rows}")
    return problems


def check_registry(truth: dict, out: dict) -> list[str]:
    from tests.oracle_compare import _rows_canon

    problems = []
    for name, (cols, rows) in out.items():
        want = truth["entries"][name]
        if sorted(c.lower() for c in cols) != want["columns"]:
            problems.append(f"{name}: columns {sorted(cols)} != oracle {want['columns']}")
            continue
        got = [list(r) for r in _rows_canon(cols, [tuple(r) for r in rows])]
        if got != want["rows"]:
            diff = sum(a != b for a, b in zip(got, want["rows"]))
            problems.append(f"{name}: {len(got)} rows vs oracle {len(want['rows'])}, "
                            f"{diff} differ")
    return problems


def main() -> None:
    sys.path.insert(0, REPO)
    with open(sys.argv[1], encoding="utf-8") as fh:
        truth = json.load(fh)
    # replies go to the original stdout; anything a library prints goes
    # to stderr
    replies = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    requests = sys.stdin.buffer
    while True:
        try:
            workload, *args = pickle.load(requests)
        except EOFError:
            return
        try:
            check = check_etl if workload == "etl_ingest" else check_registry
            problems = check(truth, *args)
        except Exception as exc:  # a malformed output is a failed check
            problems = [f"checker: {exc!r}"]
        pickle.dump(problems, replies)
        replies.flush()


if __name__ == "__main__":
    main()
