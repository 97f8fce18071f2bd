"""Session semantics are decided in one place (session.py) and applied
to a foreign session once, at the registry boundary."""

import __spark_entry__ as e

# conf -> (what a default driver session may carry, what the engine needs)
FOREIGN_TO_TUNED = {
    "spark.sql.ansi.enabled": ("true", "false"),
    "spark.sql.session.timeZone": ("America/New_York", "UTC"),
    "spark.sql.parquet.inferTimestampNTZ.enabled": ("true", "false"),
}


def test_registry_boundary_tunes_a_foreign_session(spark, sf_dir):
    """Operators set no confs themselves: both ways in — a queries()
    entry and entry() — must tune the caller's session before building."""
    original = {k: spark.conf.get(k) for k in FOREIGN_TO_TUNED}
    calls = {
        "queries()": lambda: e.queries()["a1_pivot_status_count"](spark, sf_dir),
        "entry()": lambda: e.entry(spark),
    }
    try:
        for how, call in calls.items():
            for key, (foreign, _) in FOREIGN_TO_TUNED.items():
                spark.conf.set(key, foreign)
            call()
            assert {k: spark.conf.get(k) for k in FOREIGN_TO_TUNED} == {
                k: tuned for k, (_, tuned) in FOREIGN_TO_TUNED.items()}, how
    finally:
        for key, value in original.items():
            spark.conf.set(key, value)
