"""One cold nightly run: a fresh Python + JVM process per day.

    python3 perfbench/etl_child.py ROOT LANDING_CSV YYYY-MM-DD NOW [SPANS_JSON]

Starts Spark with ``get_spark``, reads the landing CSV with
``read_landing_csv`` and runs ``Pipeline.run_day`` for the date into
the warehouse under ROOT, with the run ledger at
``ROOT/control/process_log``. With SPANS_JSON, every pipeline stage,
ledger call and commit is wrapped in a span (tagged on its Spark
jobs) and the spans are written there at exit. Exit code 3 means the
ledger skipped the day.
"""

from __future__ import annotations

import datetime
import json
import sys

from data import tree_bytes
from harness import stop_spark
from spans import Tracer


def _written(span, result, args) -> None:
    """Files and bytes under the path a commit wrote."""
    path = result if isinstance(result, str) else args[1]
    n, size = tree_bytes(path)
    span.attrs.update(path=path, files=n, bytes=size)


def instrument(tracer: Tracer) -> None:
    """Wrap the package's layer entry points in spans. ``plans.pipeline``
    imports ``overwrite_atomic`` by name, so both bindings are wrapped."""
    from datawarehouseproject_spark import catalog
    from datawarehouseproject_spark.plans import ledger, pipeline
    from datawarehouseproject_spark.sources import parquet

    for attr, stage in (
        ("clean", "clean"),
        ("scd2", "scd2"),
        ("load_dims", "dims"),
        ("load_aggregate", "aggregate"),
        ("load_marts", "marts"),
        ("run_day", "run_day"),
    ):
        tracer.wrap(pipeline.Pipeline, attr, f"pipeline.{stage}")
    for attr in ("log", "succeeded_for", "succeeded_today", "running_count", "acquire", "release"):
        tracer.wrap(ledger.RunLedger, attr, f"ledger.{attr}")
    tracer.wrap(parquet, "overwrite_atomic", "sources.overwrite_atomic", _written)
    tracer.wrap(pipeline, "overwrite_atomic", "sources.overwrite_atomic", _written)
    tracer.wrap(catalog.Catalog, "write", "sources.catalog_write", _written)


def main(argv: list[str]) -> int:
    root, csv, day, now = argv[:4]
    spans_out = argv[4] if len(argv) > 4 else None
    from datawarehouseproject_spark.catalog import Catalog
    from datawarehouseproject_spark.plans.ledger import RunLedger
    from datawarehouseproject_spark.plans.pipeline import Pipeline
    from datawarehouseproject_spark.session import get_spark
    from datawarehouseproject_spark.sources.landing import read_landing_csv

    tracer = Tracer(spans_out is not None)
    with tracer.span("session.start"):
        spark = get_spark("perfbench_etl")
    if tracer.enabled:
        tracer.spark = spark
        instrument(tracer)
    try:
        with tracer.span("sources.read_landing_csv"):
            raw = read_landing_csv(spark, csv)
        pipe = Pipeline(Catalog(spark, root), RunLedger(spark, f"{root}/control/process_log"))
        metrics = pipe.run_day(raw, datetime.date.fromisoformat(day), now=now)
    finally:
        stop_spark(spark)
        if spans_out:
            with open(spans_out, "w") as fh:
                json.dump(tracer.dump(), fh)
    return 3 if metrics.get("skipped") else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
