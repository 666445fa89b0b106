"""One measured Spark session for one workload; run.py starts it in a child
process and reads the JSON it leaves in ``--out``.

Phases:

- set-up (``setup_s``): ``import arrow_udf_spark``, ``get_spark`` and two
  untimed warm-up passes over the workload.  The first materializes each
  query with ``toArrow()``; its output is the sample run.py checks against
  the DuckDB oracle.  The second is a pass of noop writes exactly like a
  timed one, because the JVM is still compiling hot paths after the
  first.  Both evaluate every row and column (a ``count()`` would let
  Catalyst prune the UDF columns, and no Python worker would start), so
  timed passes start with live Python workers and compiled code.
- timed passes: the workload in a seed-shuffled order, each query built
  (``QUERIES[name](spark, data)``) and then materialized by a noop write,
  one query at a time, for ``--seconds`` but at least two passes.

With ``--trace 1`` even passes are traced and odd passes are not, so the
difference between the two is the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import sys
import time
from collections import defaultdict

from workloads import WORKLOADS


def _err(e: BaseException) -> str:
    first = (str(e).strip().splitlines() or [""])[0]
    return f"{type(e).__name__}: {first[:300]}"


def _temp_views(spark) -> int:
    return sum(1 for t in spark.catalog.listTables() if t.isTemporary)


def _worker_package_file(_) -> str:
    import arrow_udf_spark

    return arrow_udf_spark.__file__


class Tracer:
    """What a traced pass needs: spans, the registry probe, the REST reader
    and the job group -> phase-span map."""

    def __init__(self, spark):
        from arrow_udf_spark import Registry

        import layers

        self.layers = layers
        self.spans = layers.Spans()
        self.probe = layers.RegistryProbe(Registry, self.spans)
        self.rest = layers.Rest(spark.sparkContext)
        self.groups: dict[str, int] = {}
        self.totals: dict[str, float] = defaultdict(float)
        self.passes = 0


def run_pass(spark, queries, data: str, order: list[str], idx: int, tr: Tracer | None) -> dict:
    sc = spark.sparkContext
    span = tr.spans.span if tr else (lambda *a, **k: contextlib.nullcontext())
    if tr:
        first_exec = tr.rest.executions_count()
        tr.probe.active = True
    result: dict = {"traced": tr is not None, "queries": {}}
    t0 = time.perf_counter()
    with span("pass", index=idx):
        for name in order:
            rec: dict = {}
            try:
                with span("query", query=name):
                    with span("construct") as sid:
                        if tr:
                            group = f"pb{idx}:{name}:construct"
                            tr.groups[group] = sid
                            sc.setJobGroup(group, name)
                        a = time.perf_counter()
                        df = queries[name](spark, data)
                        b = time.perf_counter()
                    with span("materialize") as sid:
                        if tr:
                            group = f"pb{idx}:{name}:materialize"
                            tr.groups[group] = sid
                            sc.setJobGroup(group, name)
                        df.write.format("noop").mode("overwrite").save()
                        c = time.perf_counter()
                rec = {"construct_s": b - a, "materialize_s": c - b}
            except Exception as e:  # noqa: BLE001 -- one failing query must not stop the run
                rec = {"error": _err(e)}
            result["queries"][name] = rec
    result["wall_s"] = time.perf_counter() - t0
    if tr:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        tr.probe.active = False
        per_query = tr.layers.pass_layers(tr.rest, f"pb{idx}:", first_exec)
        for name, rec in result["queries"].items():
            got = rec["layers"] = per_query.get(name, {})
            if "error" not in rec:
                got["queries.construct_s"] = rec["construct_s"]
                got["queries.materialize_s"] = rec["materialize_s"]
            for key, value in got.items():
                tr.totals[key] += value
        tr.totals["traced_wall_s"] += result["wall_s"]
        tr.passes += 1
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.perf_counter()
    import arrow_udf_spark
    from arrow_udf_spark import get_spark
    from arrow_udf_spark.queries import ORACLE, QUERIES

    t_import = time.perf_counter()
    spark = get_spark(f"perfbench-{a.workload}")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    t_spark = time.perf_counter()

    views_at_start = _temp_views(spark)
    names = WORKLOADS[a.workload]
    rng = random.Random(a.seed)
    warmup_errors: dict[str, str] = {}
    outputs = {}
    for name in rng.sample(names, len(names)):
        try:
            outputs[name] = QUERIES[name](spark, a.data).toArrow()
        except Exception as e:  # noqa: BLE001 -- counted as a failed execution
            warmup_errors[name] = _err(e)
    warmup = run_pass(spark, QUERIES, a.data, rng.sample(names, len(names)), -1, None)
    t_setup = time.perf_counter()

    import pandas as pd
    import pyarrow as pa

    for name, table in outputs.items():
        with pa.OSFile(os.path.join(a.out, f"{name}.arrow"), "wb") as f:
            with pa.ipc.new_file(f, table.schema) as w:
                w.write_table(table)
    del outputs

    def phase(name: str) -> None:
        with open(os.path.join(a.out, "phase"), "w") as f:
            f.write(name)

    tr = Tracer(spark) if a.trace else None
    phase("timed")
    passes: list[dict] = []
    deadline = time.perf_counter() + a.seconds
    # at least two passes, so every figure is a median of two or more (and
    # a traced run has an untraced pass to compare with); after that a
    # pass starts only if one as long as the last still ends by the deadline
    min_passes = 2
    while len(passes) < min_passes or (
        time.perf_counter() + passes[-1]["wall_s"] <= deadline
    ):
        idx = len(passes)
        traced = tr if tr and idx % 2 == 0 else None
        passes.append(run_pass(spark, QUERIES, a.data, rng.sample(names, len(names)), idx, traced))
    phase("done")

    session = {
        "import_s": t_import - t0,
        "get_spark_s": t_spark - t_import,
        "warmup_s": t_setup - t_spark,
        "setup_s": t_setup - t0,
        "warmup_errors": warmup_errors,
        "warmup_pass": warmup,
        "passes": passes,
        "oracle": {n: ORACLE.get(n) for n in names},
        "temp_views_added": _temp_views(spark) - views_at_start,
        "driver_package": arrow_udf_spark.__file__,
        "master": sc.master,
        "cores": sc.defaultParallelism,
        "versions": {
            "spark": spark.version,
            "pyarrow": pa.__version__,
            "pandas": pd.__version__,
            "python": sys.version.split()[0],
        },
    }
    if tr:
        from pyspark.sql.functions import udf

        probe = udf(_worker_package_file, "string")
        session["worker_package"] = spark.range(1).select(probe("id")).first()[0]
        driver = next(e for e in tr.rest.get("/executors") if e["id"] == "driver")
        layers = {k: v / tr.passes for k, v in tr.totals.items()}
        layers["registry.sql_s"] = tr.probe.secs["sql"] / tr.passes
        layers["registry.sql_calls"] = tr.probe.calls["sql"] / tr.passes
        layers["registry.register_sql_s"] = tr.probe.secs["register_sql"] / tr.passes
        layers["registry.register_sql_calls"] = tr.probe.calls["register_sql"] / tr.passes
        layers["jvm.peak_heap_mb"] = driver["peakMemoryMetrics"]["JVMHeapMemory"] / 1048576
        session["layers"] = layers
        tr.layers.job_spans(tr.rest, tr.spans, tr.groups)
        session["spans"] = tr.spans.items
        tr.probe.uninstall()
    spark.stop()
    with open(os.path.join(a.out, "session.json"), "w") as f:
        json.dump(session, f)


if __name__ == "__main__":
    main()
