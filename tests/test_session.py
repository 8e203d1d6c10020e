"""Session configuration: ``session.py`` is the one place that changes a
session setting, and every entry point leaves ``ENGINE_CONF`` applied."""

from pathlib import Path

import __spark_entry__
from tickers_daily_intraday_etl_spark import session
from tickers_daily_intraday_etl_spark.session import ENGINE_CONF

PKG = Path(session.__file__).resolve().parent
SF = "/root/testdata/sf0.001"


def test_no_conf_set_outside_session_module():
    """A session setting changed by an operator leaks into every query
    planned on the same session meanwhile, including other threads'."""
    offenders = [
        f"{p.relative_to(PKG)}:{n}"
        for p in sorted(PKG.rglob("*.py"))
        if p != Path(session.__file__).resolve()
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if ".conf.set(" in line
    ]
    assert offenders == []


def test_driver_entry_applies_engine_conf(spark):
    """A driver-supplied session in its own timezone writing INT96
    timestamps gets every engine setting back from a queries() entry.
    Every key must stay runtime-modifiable: ``apply_engine_conf`` sets
    them on a live session, where a static key cannot take effect."""
    for key in ENGINE_CONF:
        assert spark.conf.isModifiable(key), key
    before = {k: spark.conf.get(k) for k in ENGINE_CONF}
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
        df = __spark_entry__.queries()["text_stats"](spark, SF)
        assert {k: spark.conf.get(k) for k in ENGINE_CONF} == ENGINE_CONF
        assert df.limit(1).count() == 1
    finally:
        for key, value in before.items():
            spark.conf.set(key, value)
