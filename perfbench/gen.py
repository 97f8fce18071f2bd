"""Seeded input generator, run as its own process by run.py.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

Writes the workload's inputs into ``<dir>`` and what the benchmark
checks them against into ``<dir>/truth.json``; the engine under test
only ever reads the inputs. Running it in a separate process keeps the
generator's memory (and DuckDB's, for the oracle) out of the driver's
peak RSS.

- ``etl_ingest``: one multi-collection JSON file plus its mapping
  config, app config and schema.sql. Truth is what was planted:
  documents and error documents per collection, documents with missing
  columns, object statuses, missing and unmapped collections and the
  row count of every parquet the sink writes.
- ``registry_reports``: seeded tables with the schema of the engine's
  testdata, one parquet file (one row group) per table. Truth is each
  entry's DuckDB oracle result over the same rows, canonicalised as
  ``tests/oracle_compare.py`` does.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# --------------------------------------------------------------------------
# etl_ingest
# --------------------------------------------------------------------------

ETL_DOCS = 10_000
INGESTION_DATE = "2024-06-01"

# The shares and rates below are chosen stand-ins, not measured traffic:
# no sample of real input is in the repository. They make every error
# and cast path of the transform run on each operation, nothing more.

# share of mapped documents that get each planted defect (independently)
P_MISSING = 0.08      # one or two mapped attributes absent
P_UNCASTABLE = 0.05   # one non-text attribute holds an uncastable string
P_MALFORMED = 0.02    # one non-text attribute holds a nested object/array
P_NULL = 0.05         # one attribute is JSON null: neither missing nor error

# collection -> (share of documents, object_id attribute, {attr: type})
MAPPED = {
    "orders": (0.30, "order_id", {
        "order_id": "bigint", "customer_id": "integer", "order_status": "text",
        "total": "double", "discount": "numeric", "order_date": "date",
        "shipped_at": "datetime", "priority": "text", "is_gift": "boolean",
    }),
    "lineitems": (0.45, "line_id", {
        "line_id": "bigint", "order_id": "bigint", "line_no": "smallint",
        "part_id": "integer", "qty": "integer", "price": "double",
        "ship_date": "date", "returned": "boolean", "comment": "text",
    }),
    "customers": (0.15, "customer_id", {
        "customer_id": "integer", "name": "text", "segment": "text",
        "balance": "numeric", "signup": "date", "active": "boolean",
        "last_seen": "datetime",
    }),
}
UNMAPPED = ("clickstream", 0.10)        # in the input, not in the mapping
ABSENT = "returns"                      # in the mapping, not in the input
EXISTING = {"public.lineitems"}         # -> ALREADY_EXISTS
IN_SCHEMA = {"public.customers", "public.returns"}  # -> MISSING

# the first five are the reference app config's formats (FIXTURES.md)
DATE_FORMATS = (
    "%Y-%m-%d", "%m/%d/%Y", "%d-%m-%Y", "%Y/%m/%d", "%Y.%m.%d",
    "%Y-%m-%dT%H:%M:%S", "%Y-%m-%dT%H:%M:%S.%fZ", "%d-%m-%Y %H:%M:%S",
)
UNCASTABLE = {
    "bigint": ("n/a", "12abc", "one"),
    "integer": ("n/a", "7-7", "twelve"),
    "smallint": ("n/a", "99999999", "x1"),
    "double": ("12,50", "abc", "1.2.3"),
    "numeric": ("$5", "1.2.3", "ten"),
    "boolean": ("maybe", "unknown", "?"),
    "date": ("yesterday", "13/45/2020", "2020-99-99"),
    "datetime": ("soon", "13/45/2020 10:00", "2020-99-99T00:00:00"),
}
WORDS = ("alpha", "bravo", "delta", "echo", "gold", "silver", "retail",
         "wholesale", "rush", "standard", "fragile", "bulk")
EPOCH = dt.datetime(2015, 1, 1)


def _valid(rng: random.Random, typ: str):
    if typ in ("bigint", "integer"):
        v = rng.randrange(1, 10_000_000) if typ == "bigint" else rng.randrange(1, 100_000)
        return rng.choice((v, v, str(v), float(v)))
    if typ == "smallint":
        return rng.choice((rng.randrange(1, 30_000), str(rng.randrange(1, 300))))
    if typ == "double":
        v = round(rng.uniform(0, 100_000), 2)
        return rng.choice((v, v, str(v)))
    if typ == "numeric":
        return rng.choice((round(rng.uniform(-500, 5_000), 2), f"{rng.uniform(0, 99):.4f}"))
    if typ == "boolean":
        return rng.choice((True, False, "yes", "no", "Y", "f", 1, 0))
    if typ in ("date", "datetime"):
        t = EPOCH + dt.timedelta(seconds=rng.randrange(0, 9 * 365 * 86400))
        return t.strftime(rng.choice(DATE_FORMATS))
    return " ".join(rng.choice(WORDS) for _ in range(rng.randrange(1, 6)))


def _malformed(rng: random.Random, typ: str):
    return rng.choice(({"$numberLong": "42"}, [1, 2, 3], {"value": None, "unit": typ}))


def gen_etl(out: str, seed: int) -> dict:
    rng = random.Random(seed)
    data: dict[str, list] = {}
    per_coll: dict[str, dict] = {}
    missing_by_coll: dict[str, int] = {}
    for coll, (share, id_attr, attrs) in MAPPED.items():
        docs, errors, missing = [], 0, 0
        optional = sorted(set(attrs) - {id_attr})
        non_text = [a for a in optional if attrs[a] != "text"]
        for i in range(int(ETL_DOCS * share)):
            doc = {a: _valid(rng, t) for a, t in attrs.items()}
            doc[id_attr] = i + 1
            doc["_source"] = rng.choice(WORDS)          # unmapped attribute
            bad: set[str] = set()   # attributes holding a planted bad value
            if rng.random() < P_UNCASTABLE:
                a = rng.choice(non_text)
                doc[a] = rng.choice(UNCASTABLE[attrs[a]])
                bad.add(a)
            if rng.random() < P_MALFORMED:
                a = rng.choice(non_text)
                doc[a] = _malformed(rng, attrs[a])
                bad.add(a)
            if rng.random() < P_NULL:
                a = rng.choice(optional)
                doc[a] = None
                bad.discard(a)
            dropped: set[str] = set()
            if rng.random() < P_MISSING:
                dropped = set(rng.sample(optional, rng.choice((1, 2))))
                for a in dropped:
                    del doc[a]
            errors += bool(bad - dropped)
            missing += bool(dropped)
            docs.append(doc)
        data[coll] = docs
        per_coll[coll] = {"processed": len(docs), "errors": errors}
        missing_by_coll[coll] = missing
    name, share = UNMAPPED
    data[name] = [
        {"session": rng.randrange(10**9), "url": "/" + rng.choice(WORDS),
         "ts": _valid(rng, "datetime")}
        for _ in range(int(ETL_DOCS * share))
    ]
    # interleave collection order so the file is not sorted by name
    data = {k: data[k] for k in ("lineitems", "clickstream", "orders", "customers")}

    mapping = {"collections": {
        coll: {
            "target_table": f"public.{coll}",
            "object_id_attribute": id_attr,
            "mappings": {a: {"column": a, "type": t} for a, t in attrs.items()},
        }
        for coll, (_, id_attr, attrs) in MAPPED.items()
    }}
    mapping["collections"][ABSENT] = {
        "target_table": f"public.{ABSENT}",
        "mappings": {"return_id": {"column": "return_id", "type": "bigint"}},
    }
    schema_sql = "".join(
        f"CREATE TABLE IF NOT EXISTS {t} (\n  id BIGINT\n);\n" for t in sorted(IN_SCHEMA))
    schema_path = os.path.join(out, "schema.sql")
    app = {
        "runtime": {"date_formats": list(DATE_FORMATS), "schema_path": schema_path},
        "logging": {"level": "WARNING"},
    }
    paths = {k: os.path.join(out, f) for k, f in (
        ("input", "input.json"), ("mapping", "mapping.json"), ("app", "app.json"))}
    with open(paths["input"], "w", encoding="utf-8") as fh:
        json.dump(data, fh)
    with open(paths["mapping"], "w", encoding="utf-8") as fh:
        json.dump(mapping, fh)
    with open(paths["app"], "w", encoding="utf-8") as fh:
        json.dump(app, fh)
    with open(schema_path, "w", encoding="utf-8") as fh:
        fh.write(schema_sql)

    statuses = {f"public.{c}": "NEW" for c in MAPPED}
    statuses.update({t: "ALREADY_EXISTS" for t in EXISTING})
    statuses.update({t: "MISSING" for t in IN_SCHEMA})
    total = sum(p["processed"] for p in per_coll.values())
    errors = sum(p["errors"] for p in per_coll.values())
    mapped_tables = {f"public.{c}" for c in MAPPED}
    truth = {
        "summary": {
            "total_documents": total,
            "successful_documents": total - errors,
            "documents_with_errors": errors,
            "documents_with_missing_columns": sum(missing_by_coll.values()),
            "missing_collections": [ABSENT],
            "unmapped_collections": [UNMAPPED[0]],
            "missing_tables_input": sorted(IN_SCHEMA - mapped_tables),
            "missing_tables_db": sorted(IN_SCHEMA & mapped_tables),
            "object_statuses": dict(sorted(statuses.items())),
            "per_collection": per_coll,
        },
        "parquet_rows": {
            **{f"data_{c}.parquet": p["processed"] for c, p in per_coll.items()},
            # schema tables absent from the input add one 'missing' audit row each
            "ingestion_audit.parquet": total + len(IN_SCHEMA - mapped_tables),
            "missing_attributes_report.parquet": sum(1 for m in missing_by_coll.values() if m),
        },
        "paths": paths,
        "existing_tables": sorted(EXISTING),
        "ingestion_date": INGESTION_DATE,
        "input_bytes": os.path.getsize(paths["input"]),
    }
    return truth


# --------------------------------------------------------------------------
# registry_reports
# --------------------------------------------------------------------------

# rows per registry table: a tenth of the sf0.01 shape of the engine's
# testdata (30 lineitems per part, 4 per order), all of its 500
# documents and 100 of its 500 embeddings. The iterative entries are
# bound by per-round job count, not rows; the two pairwise similarity
# oracles each cost DuckDB about 80 ms of CPU per embedding; and every
# run must fit the time budget (README.md).
ROWS = {"orders": 1_500, "lineitem": 6_000, "part": 200, "documents": 500,
        "embeddings": 100}
ORACLE_ROW_GROUP = 16
# (operator module, registry entry) of every entry registry_reports runs
ENTRIES = (
    # audit dashboard reports: the transform layer, aggregate-only
    ("transform_queries", "audit_status_pivot"),
    ("transform_queries", "audit_report_assembly"),
    ("transform_queries", "audit_missing_columns_report"),
    # per-round fixed-point loops: job count and shuffles
    ("graph", "graph_pagerank_parts"),
    ("graph", "graph_label_propagation"),
    ("graph", "graph_kcore_parts"),
    ("kmeans", "kmeans_train"),
    # document curation: operators.dedup and operators.similarity
    ("dedup", "dedup_minhash_pairs"),
    ("similarity", "sim_cosine_pairs_lsh"),
    ("similarity", "ann_ivf_topk"),
    ("similarity", "dedup_embedding_cosine"),
)
# the documents' vocabulary and languages, as in the engine's testdata
DOC_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
DOC_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
P_NEAR_DUP = 0.1    # share of documents and embeddings that copy an earlier one


def _days(np, rng, start: str, days: int, n: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _documents(rng, n: int) -> list[str]:
    """Texts of 10-99 words; a share of them copy an earlier text with
    one word replaced or one appended, so near-duplicate pairs exist."""
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < P_NEAR_DUP:
            words = texts[rng.integers(0, len(texts))].split()
            if rng.random() < 0.5:
                words[rng.integers(0, len(words))] = str(rng.choice(DOC_WORDS))
            else:
                words.append("dup")
        else:
            words = [str(w) for w in rng.choice(DOC_WORDS, rng.integers(10, 100))]
        texts.append(" ".join(words))
    return texts


def gen_tables(out: str, seed: int) -> None:
    """One single-row-group parquet file per table in ``ROWS``, with the
    columns and value distributions of the engine's testdata."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_o, n_l, n_p = ROWS["orders"], ROWS["lineitem"], ROWS["part"]
    tables = {}
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_o // 10, n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_o), 2),
        "o_orderdate": _days(np, rng, "1995-01-01", 2404, n_o),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, 1000, n_l),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_l), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_l), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_l), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _days(np, rng, "1995-01-02", 2497, n_l),
    })
    adjectives = ["red", "new", "hot", "small", "big", "old", "blue", "cold"]
    nouns = ["bolt", "anvil", "ring", "rod", "plate", "widget", "gear", "nut"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjectives, n_p),
                                              rng.choice(nouns, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) * 0.1, 2),
    })
    n_d = ROWS["documents"]
    texts = _documents(rng, n_d)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(DOC_LANGS, n_d),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # unit vectors, weakly clustered around one centre per label; a
    # share of them are an earlier vector plus a little noise
    n_e, dim, k = ROWS["embeddings"], 64, 10
    labels = rng.integers(0, k, n_e)
    centres = rng.normal(0, 1, (k, dim))
    v = centres[labels] * 0.15 + rng.normal(0, 1, (n_e, dim))
    for i in range(1, n_e):
        if rng.random() < P_NEAR_DUP:
            j = rng.integers(0, i)
            labels[i] = labels[j]
            v[i] = v[j] + rng.normal(0, 0.3, dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_e, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    # the engine reads one row group per table, as in its testdata; the
    # oracle reads the same rows in small row groups, so that DuckDB
    # scans (and evaluates the similarity oracles' wide expressions) on
    # every core
    os.makedirs(os.path.join(out, "oracle"))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        pq.write_table(table, os.path.join(out, "oracle", f"{name}.parquet"),
                       row_group_size=ORACLE_ROW_GROUP)


def oracle_truth(tables_dir: str) -> dict:
    """entry -> {"columns": [...], "rows": canonical sorted rows}."""
    sys.path.insert(0, REPO)
    import __spark_entry__
    from tests.oracle_compare import _rows_canon, duckdb_conn

    sql = __spark_entry__.oracle_sql()
    cpus = len(os.sched_getaffinity(0))
    con = duckdb_conn(os.path.join(tables_dir, "oracle"))
    con.execute(f"SET threads TO {cpus}")

    def oracle(name: str):
        rel = con.cursor().sql(sql[name])
        return name, {"columns": sorted(c.lower() for c in rel.columns),
                      "rows": _rows_canon(rel.columns, rel.fetchall())}

    # side by side: each similarity oracle keeps only a few of DuckDB's
    # threads busy
    with ThreadPoolExecutor(cpus) as pool:
        return dict(pool.map(oracle, [name for _, name in ENTRIES]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("etl_ingest", "registry_reports"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    if args.workload == "etl_ingest":
        truth = gen_etl(args.out, args.seed)
    else:
        gen_tables(args.out, args.seed)
        truth = {"tables_dir": args.out, "entries": oracle_truth(args.out)}
    with open(os.path.join(args.out, "truth.json"), "w", encoding="utf-8") as fh:
        json.dump(truth, fh)


if __name__ == "__main__":
    main()
