"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    -> flagship query over /root/testdata/sf0.001
queries()       -> {name: (spark, sf_dir) -> DataFrame} per SURVEY.md §2
oracle_sql()    -> {name: DuckDB-equivalent ANSI SQL}

Implementations live in etl_pipeline_from_mongo_json_to_postgre_spark/
(operators/analytics.py, operators/transform_queries.py, ...); this
module only assembles the registries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_pipeline_from_mongo_json_to_postgre_spark.operators import (
    analytics,
    ann_trained,
    association,
    bpe,
    chunking,
    corpus,
    curation_ext,
    dedup,
    graph,
    incremental,
    kmeans,
    malformed,
    mm_pack,
    mm_probe,
    mm_resize,
    mixing,
    pca,
    repetition,
    sem_trained,
    timeseries,
    multimodal,
    profiling,
    quantile_sketch,
    scalar_funcs,
    similarity,
    skew,
    text_queries,
    tpch_suite,
    transform_queries,
    variant_ingest,
)
from etl_pipeline_from_mongo_json_to_postgre_spark.session import tune_for_oracle
from etl_pipeline_from_mongo_json_to_postgre_spark.sources import (
    binary_source,
    csv_source,
    mongo_datasource,
    orc_source,
    xml_source,
)
from etl_pipeline_from_mongo_json_to_postgre_spark.streaming import (
    doc_chunks as streaming_doc_chunks,
    events as streaming_events,
    load as streaming_load,
    semantic as streaming_semantic,
    sessionize_native as streaming_sessionize_native,
)

_MODULES = (analytics, transform_queries, scalar_funcs, text_queries, dedup,
            similarity, skew, multimodal, streaming_events, mongo_datasource,
            profiling, corpus, incremental, kmeans, timeseries, pca,
            association, graph, tpch_suite, curation_ext, csv_source,
            orc_source, mixing, ann_trained, variant_ingest, chunking,
            streaming_doc_chunks, repetition, bpe, streaming_load,
            quantile_sketch, malformed, mm_resize, mm_pack, mm_probe,
            sem_trained,
            streaming_sessionize_native, xml_source, binary_source,
            streaming_semantic)

# The driver evaluates registry entries in dict order and hash-checks the
# first 50 per round. Ordering rule (VERDICT r4 tasks 1+7): derived from
# the committed driver evidence itself — CORRECTNESS_r*.json — instead of
# a hand-maintained list:
#
#   1. hash-oracle entries with NO green driver evidence, name order;
#   2. hash-oracle entries ordered stalest-evidence-first (latest green
#      round ascending, then name) — so old evidence is refreshed on
#      rotation;
#   3. rows-only entries (no DuckDB oracle) last: their driver check is
#      weaker than the local behavior tests that already pin them, so
#      they never consume a hash-check slot (test_priority_window.py).
#
# When the driver commits CORRECTNESS_r05.json at the next round start,
# the import below picks it up and the window rotates automatically.
# Entries whose code/oracle changed in-round but already hold green
# evidence are NOT force-rewindowed: the judge-rerun sf0.001 parity suite
# plus the builder's full-registry sf0.01 sweeps gate those, and window
# slots are worth more spent completing ever-checked coverage.
import glob as _glob
import json as _json

_REPO = os.path.dirname(os.path.abspath(__file__))


def _evidence_rounds() -> tuple[dict[str, int], dict[str, int]]:
    """(entry -> latest fully-green round, entry -> latest any-result round)."""
    green: dict[str, int] = {}
    latest_any: dict[str, int] = {}
    for path in sorted(_glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
            rows = _json.load(open(path))
        except (ValueError, OSError, _json.JSONDecodeError):
            continue
        for name, res in rows.items():
            latest_any[name] = max(latest_any.get(name, 0), rnd)
            if (res.get("rows_match") and res.get("schema_match")
                    and res.get("hash_match", True)):
                green[name] = max(green.get(name, 0), rnd)
    return green, latest_any


def _evidence_latest_green() -> dict[str, int]:
    """entry -> latest round with a fully-green driver row (rows+schema+hash).

    An entry whose NEWEST driver row is red is dropped: a regression wipes
    the stale green, so the entry re-enters the window (red rows are work
    orders, not evidence — pinned by test_red_driver_rows_reenter_the_window
    for both the never-green and the red-AFTER-green case)."""
    green, latest_any = _evidence_rounds()
    return {n: r for n, r in green.items() if latest_any.get(n, 0) <= r}


def _regressed() -> set[str]:
    """Entries whose newest driver row is red (with or without an older
    green): they outrank everything, including never-checked entries —
    the regression-response path for the whole registry."""
    green, latest_any = _evidence_rounds()
    return {n for n, r in latest_any.items() if r > green.get(n, -1)}


def _births() -> dict[str, int]:
    """entry -> round the entry first existed (tools/registry_births.json,
    integrity-enforced by test_priority_window). Among never-checked
    entries, OLDER entries outrank in-round additions: when additions
    push the never-checked count past the 50-slot window, the planned
    rotation for pre-existing entries completes first and the newest
    entries (already gated by the local two-SF parity sweep) wait one
    round. Unrecorded entries sort dead last until recorded."""
    try:
        return _json.load(open(os.path.join(_REPO, "tools", "registry_births.json")))
    except (OSError, _json.JSONDecodeError):
        return {}


def _current_fingerprints(q_raw: dict, o: dict) -> dict[str, dict[str, str]]:
    """entry -> {"fn": hash(own source + oracle SQL), "mod": hash(module file)}.

    "fn" drift means the entry's own body or oracle changed since its
    stamp; "mod" drift catches edits to helpers elsewhere in the same
    module file (the round-5 dedup_minhash_* case, VERDICT r5 task 6)."""
    import functools
    import hashlib
    import inspect

    mod_cache: dict[str, str] = {}
    fps: dict[str, dict[str, str]] = {}
    for name, fn in q_raw.items():
        f = inspect.unwrap(fn)
        while isinstance(f, functools.partial):
            f = f.func
        try:
            src = inspect.getsource(f)
        except (OSError, TypeError):
            src = repr(f)
        path = getattr(inspect.getmodule(f), "__file__", "") or ""
        if path not in mod_cache:
            try:
                with open(path, "rb") as fh:
                    mod_cache[path] = hashlib.sha256(fh.read()).hexdigest()[:16]
            except OSError:
                mod_cache[path] = "unreadable"
        fps[name] = {
            "fn": hashlib.sha256(
                (src + "\x00" + o.get(name, "")).encode()
            ).hexdigest()[:16],
            "mod": mod_cache[path],
        }
    return fps


def _stamps() -> dict[str, dict]:
    """tools/entry_fingerprints.json: per-entry fingerprints captured at
    the time of the entry's latest green driver evidence (refreshed by
    tools/stamp_fingerprints.py, run FIRST THING each round before any
    operator edits)."""
    try:
        return _json.load(
            open(os.path.join(_REPO, "tools", "entry_fingerprints.json")))
    except (OSError, _json.JSONDecodeError):
        return {}


def _drifted(q_raw: dict, o: dict) -> tuple[set[str], set[str]]:
    """(strong, weak) drift among green-evidenced entries: strong = the
    entry's own source/oracle changed since its green was stamped (or it
    was explicitly marked); weak = only its module file changed (a
    helper it may depend on). Either way the old green no longer
    vouches for the current code, so the entry re-enters the window.

    PENDING-STAMP is not drift (VERDICT r6 task 1): an entry whose
    latest green round is NEWER than its stamp round — or that has no
    stamp yet — was just greened by the driver against exactly the code
    on disk; the stamp simply hasn't been refreshed (stamp_fingerprints
    runs at round start / via the conftest auto-stamp). Classifying it
    as drift burned all 50 r7 window slots on yesterday's greens and
    turned the tripwire test red the moment CORRECTNESS_r06.json landed.
    Such entries rank in the clean-stale block by their (new) green
    round — i.e. at its tail, which is where just-greened entries
    belong."""
    stamps = _stamps()
    if not stamps:
        return set(), set()
    ev = _evidence_latest_green()
    cur = _current_fingerprints(q_raw, o)
    strong, weak = set(), set()
    for name, rnd in ev.items():
        st, c = stamps.get(name), cur.get(name)
        if c is None:
            continue
        if st is None or st.get("round", -1) < rnd:
            continue  # pending-stamp: fresh green, stamp not yet refreshed
        if st.get("fn") != c["fn"]:
            strong.add(name)
        elif st.get("mod") != c["mod"]:
            weak.add(name)
    return strong, weak


def _priority(q_raw: dict, o: dict) -> list[str]:
    ev = _evidence_latest_green()
    red = _regressed()
    born = _births()
    strong, weak = _drifted(q_raw, o)
    hash_backed = [n for n in q_raw if n in o]
    rows_only = [n for n in q_raw if n not in o]
    regressed = sorted(n for n in hash_backed if n in red)
    never = sorted((n for n in hash_backed if n not in ev and n not in red),
                   key=lambda n: (born.get(n, 99), n))
    drift_s = [n for _, n in sorted((ev[n], n) for n in hash_backed
                                    if n in strong)]
    # Weak drift (module helper changed, own code untouched) does NOT
    # outrank older clean evidence (VERDICT r7 task 1): weak-drifted
    # entries are re-verified by the local full-registry parity sweep
    # every round, whereas evidence AGE is the one thing only a driver
    # slot can fix. Merge weak + clean into a single stalest-first
    # block (weak ahead of clean at the same evidence round).
    merged = [n for _, _, n in sorted(
        (ev[n], 0 if n in weak else 1, n)
        for n in hash_backed if n in ev and n not in strong)]
    return regressed + never + drift_s + merged + sorted(
        rows_only, key=lambda n: (ev.get(n, 0), n))


def _ordered(entries: dict, order: list[str]) -> dict:
    out = {k: entries[k] for k in order if k in entries}
    out.update((k, v) for k, v in entries.items() if k not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ingest orders+lineitem as JSON document collections
    through the mapping/transform engine, pivot the audit trail
    (object_name x processing_status) — the reference's dashboard A1
    over a real engine-produced audit frame."""
    return _ntz_outputs(transform_queries.audit_status_pivot)(
        spark, "/root/testdata/sf0.001")


def _ntz_outputs(fn: Callable) -> Callable:
    """The registry boundary every entry call crosses (``entry()``
    included): tune the caller's session once, then cast every
    TIMESTAMP_LTZ output column to TIMESTAMP_NTZ.

    The tune: the driver hands us its own default session (ANSI on,
    any timezone); ``session.tune_for_oracle`` applies the engine's
    conf table before the entry builds its plan, so no operator sets
    confs itself.

    The cast: PySpark ``collect()`` converts TimestampType through the
    PYTHON PROCESS timezone (datetime.fromtimestamp), so a non-UTC
    driver host would shift collected datetimes while the DuckDB oracle
    stays UTC-naive — a whole class of spurious hash mismatches
    (verified 2026-08-14: exactly the ts-output entries fail under
    TZ=America/New_York, everything else green). The tune pins the
    SESSION timezone to UTC, so the LTZ->NTZ cast is
    value-preserving, and NTZ collects to a naive datetime with no
    process-timezone involvement — parity now holds under ANY driver
    host timezone."""
    from functools import wraps

    from pyspark.sql.types import TimestampType

    @wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(tune_for_oracle(spark), sf_dir)
        from pyspark.sql import functions as F

        for field in df.schema.fields:
            if isinstance(field.dataType, TimestampType):
                df = df.withColumn(
                    field.name, F.col(field.name).cast("timestamp_ntz")
                )
        return df

    return wrapped


def _raw_registries() -> tuple[dict, dict]:
    """Unwrapped QUERIES/ORACLE_SQL union (fingerprinting needs the raw
    callables; tools/stamp_fingerprints.py uses this)."""
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    o: dict[str, str] = {}
    for mod in _MODULES:
        q.update(mod.QUERIES)
        o.update(mod.ORACLE_SQL)
    return q, o


def _registries() -> tuple[dict, dict, list[str]]:
    q_raw, o = _raw_registries()
    order = _priority(q_raw, o)
    q = {name: _ntz_outputs(fn) for name, fn in q_raw.items()}
    return q, o, order


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q, _, order = _registries()
    return _ordered(q, order)


def oracle_sql() -> dict[str, str]:
    q, o, order = _registries()
    return _ordered(o, order)


def priority_window(size: int = 50) -> list[str]:
    """The first `size` registry names — what the driver hash-checks."""
    q, _, order = _registries()
    return [n for n in order if n in q][:size]
