"""arrow_udf_spark benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload udf_boundary --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  The inputs are the seed-42 sf0.1
fixture tables the query catalog is gated on, kept read-only in
``perfbench/fixtures/sf0.1`` and checked against their SHA-256 sums before
every run; ``--seed`` fixes only the order of the queries in every pass.
It runs one Spark driver (``local[N]`` with
N = nproc) in a child process whose ``PYTHONPATH`` points at this checkout,
so the driver and every Python worker import the code under test, and
samples the resident memory of that process tree from ``/proc``.  After
the child has exited, each query's warm-up output is compared with the
query's DuckDB oracle using the normalization of ``tools/oracle_check.py``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (see README.md in this directory); the last stdout line is JSON:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A full record (environment, per-query times, and with tracing the spans)
is written to ``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

#: (name, unit) of the metrics printed with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("query_geomean_s", "s"),
]
PY_FIELDS = [("start_s", "s"), ("init_s", "s"), ("run_s", "s"),
             ("sent_mb", "MB"), ("returned_mb", "MB"), ("rows_out", "rows")]
#: (name, unit) of the metrics printed with --trace 1; per timed pass
#: unless the name says otherwise (session.*, *_rss_mb, peak_heap_mb)
PER_LAYER = (
    [("process.peak_rss_mb", "MB"),
     ("session.import_s", "s"), ("session.get_spark_s", "s"), ("session.warmup_s", "s"),
     ("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
     ("queries.materialize_s", "s"),
     ("registry.sql_s", "s"), ("registry.sql_calls", "count"),
     ("registry.register_sql_s", "s"), ("registry.register_sql_calls", "count"),
     ("registry.temp_views_added", "count")]
    + [(f"python.{k}.{f}", u) for k in (
        "ArrowEvalPython", "ArrowEvalPythonUDTF", "MapInArrow", "MapInPandas",
        "AggregateInPandas", "FlatMapGroupsInPandas") for f, u in PY_FIELDS]
    + [(f"python.{f}", u) for f, u in PY_FIELDS if f != "rows_out"]
    + [("python.workers_rss_mb", "MB"),
       ("jvm.jobs", "count"), ("jvm.stages", "count"), ("jvm.tasks", "count"),
       ("jvm.failed_tasks", "count"), ("jvm.executor_run_s", "s"),
       ("jvm.executor_cpu_s", "s"), ("jvm.gc_s", "s"), ("jvm.input_mb", "MB"),
       ("jvm.shuffle_read_mb", "MB"), ("jvm.shuffle_write_mb", "MB"),
       ("jvm.spill_mb", "MB"), ("jvm.core_util", "ratio"),
       ("jvm.peak_heap_mb", "MB"), ("jvm.rss_mb", "MB")]
    + [(f"nodes.{k}.rows_out", "rows") for k in (
        "Exchange", "BroadcastHashJoin", "SortMergeJoin", "HashAggregate",
        "Window", "Sort", "Generate")]
    + [("trace.overhead_s", "s")]
)
#: "python.start_s is about 0 in timed passes": workers are already up
WARM_START_LIMIT_S = 0.5
CHILD_TIMEOUT_S = 150
#: the seed-42 sf0.1 fixtures (the scale the catalog's timings and the
#: ROADMAP targets are quoted at), the same in every run
FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1048576


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


class TreeMemory(threading.Thread):
    """Peak resident memory of every process in one session (the child,
    its JVM and the ``pyspark.daemon`` workers), sampled from ``/proc``.

    ``peak["total"]`` covers the whole run; the per-process-kind peaks
    cover only the timed passes, which the child brackets by writing
    ``timed`` and then ``done`` into ``phase_file``."""

    def __init__(self, sid: int, phase_file: str, every: float = 0.2):
        super().__init__(daemon=True)
        self.sid, self.phase_file, self.every = sid, phase_file, every
        self.peak = {"total": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop_evt = threading.Event()

    def phase(self) -> str:
        try:
            with open(self.phase_file) as f:
                return f.read().strip()
        except OSError:
            return "setup"

    def sample(self) -> dict[str, float]:
        now = {"total": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid in session_pids(self.sid):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    rss = int(f.read().rsplit(")", 1)[1].split()[21]) * PAGE_MB
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
            except (OSError, IndexError, ValueError):
                continue  # the process ended between listing and reading
            now["total"] += rss
            if b"java" in cmd.split(b"\0", 1)[0]:
                now["jvm"] += rss
            elif b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                now["workers"] += rss
        return now

    def run(self) -> None:
        while not self._stop_evt.wait(self.every):
            timed = self.phase() == "timed"
            for k, v in self.sample().items():
                if k == "total" or timed:
                    self.peak[k] = max(self.peak[k], v)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[3]) == sid:
                    pids.append(int(entry))
        except (OSError, IndexError, ValueError):
            continue
    return pids


def reap_session(sid: int, grace: float = 15.0) -> None:
    """Wait for every process of the child's session to end; kill what is
    left after ``grace`` seconds and wait for that too."""
    deadline = time.monotonic() + grace
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if session_pids(sid):
        with_signal = True
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            with_signal = False
        while with_signal and session_pids(sid):
            time.sleep(0.1)


def check_fixtures() -> str:
    """Fail unless every fixture table matches ``SHA256SUMS``; returns a
    short digest of that file, which names the input set in results and
    in the oracle cache."""
    sums = os.path.join(FIXTURES, "SHA256SUMS")
    if not os.path.isfile(sums):
        fail(f"{os.path.relpath(sums, ROOT)} not found")
    with open(sums, "rb") as f:
        listing = f.read()
    for line in listing.decode().splitlines():
        want, name = line.split()
        h = hashlib.sha256()
        with open(os.path.join(FIXTURES, name), "rb") as f:
            h.update(f.read())
        if h.hexdigest() != want:
            fail(f"fixture {name} does not match SHA256SUMS")
    return hashlib.sha256(listing).hexdigest()[:16]


def code_fingerprint() -> str:
    """sha256 over the package sources, standing in for a commit id when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "arrow_udf_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def read_arrow(path: str):
    import pyarrow as pa

    with pa.memory_map(path) as src:
        return pa.ipc.open_file(src).read_all()


def write_arrow(path: str, table) -> None:
    import pyarrow as pa

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with pa.OSFile(tmp, "wb") as f, pa.ipc.new_file(f, table.schema) as w:
        w.write_table(table)
    os.replace(tmp, path)


def oracle_db(data: str):
    """DuckDB connection holding the tables the oracles read."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.oracle_check import TABLES

    con = duckdb.connect()
    for tbl in TABLES:
        # in-memory batches, not the parquet file: DuckDB scans a file's
        # row groups in parallel, and these files have only one
        table = pq.read_table(os.path.join(data, f"{tbl}.parquet"))
        con.register(tbl, pa.Table.from_batches(table.to_batches(max_chunksize=1 << 16)))
    return con


def check_outputs(names: list[str], oracle: dict, out_dir: str, cache_dir: str,
                  errors: dict) -> dict[str, str]:
    """Compare each query's warm-up output with its oracle; returns
    ``{name: problem}`` for every query that did not match.

    The oracle's answer depends only on the tables and the SQL, and some
    take seconds in DuckDB, so answers are kept in ``cache_dir`` (one per
    input set) and DuckDB is started only when one is missing."""
    from tools.oracle_check import norm_rows

    con = None
    bad = {}
    for name in names:
        if name in errors:
            bad[name] = errors[name]
            continue
        if not oracle.get(name):
            bad[name] = "no oracle SQL in the catalog"
            continue
        got = read_arrow(os.path.join(out_dir, f"{name}.arrow"))
        key = hashlib.sha256(oracle[name].encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{name}-{key}.arrow")
        try:
            if os.path.exists(cached):
                want = read_arrow(cached)
            else:
                con = con or oracle_db(FIXTURES)
                want = con.sql(oracle[name]).arrow()
                write_arrow(cached, want)
            problem = compare(got, want, norm_rows)
        except Exception as e:  # noqa: BLE001 -- a broken oracle fails the query, not the run
            problem = f"oracle raised {type(e).__name__}: {e}"
        if problem:
            bad[name] = problem
    if con is not None:
        con.close()
    return bad


def compare(got, want, norm_rows) -> str | None:
    """None when ``got`` (Spark) matches ``want`` (DuckDB) as
    tools/oracle_check.compare judges it.  Tables with the same column
    types and identical sorted values pass without the per-cell
    normalization; anything else (an int column against a double one, a
    decimal of another scale, ...) is judged by norm_rows exactly as the
    correctness gate does."""
    import pyarrow as pa

    g_cols = [c.lower() for c in got.column_names]
    w_cols = [c.lower() for c in want.column_names]
    if sorted(g_cols) != sorted(w_cols):
        return f"column mismatch: spark={sorted(g_cols)} oracle={sorted(w_cols)}"
    if got.num_rows != want.num_rows:
        return f"row count: spark={got.num_rows} oracle={want.num_rows}"
    got = got.rename_columns(g_cols).select(w_cols)
    want = want.rename_columns(w_cols)
    if [f.type for f in got.schema] == [f.type for f in want.schema]:
        try:
            keys = [(c, "ascending") for c in w_cols]
            if got.sort_by(keys).equals(want.sort_by(keys)):
                return None
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
            pass  # columns Arrow cannot sort by: judge cell by cell

    def rows(t):
        # Spark's collect() hands out naive datetimes in the session zone (UTC)
        for i, f in enumerate(t.schema):
            if pa.types.is_timestamp(f.type) and f.type.tz is not None:
                t = t.set_column(i, f.name, t.column(i).cast(pa.timestamp(f.type.unit)))
        cols = t.to_pydict()
        return list(zip(*(cols[c] for c in w_cols))) if w_cols else []

    a, b = norm_rows(w_cols, rows(got)), norm_rows(w_cols, rows(want))
    if a != b:
        sb = set(b)
        return f"values differ; spark-only={[r for r in a if r not in sb][:2]}"
    return None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("arrow_udf_spark/__init__.py", "tools/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a source checkout of arrow_udf_spark")
    sys.path.insert(1, ROOT)

    fixtures_sha = check_fixtures()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    # per run, so what the queries leave in TMPDIR (ivf_persisted_topk
    # writes its index there) goes with the run directory
    tmp = os.path.join(out_dir, "tmp")
    for d in (tmp, os.path.join(WORK, "results")):
        os.makedirs(d, exist_ok=True)

    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [sys.executable, os.path.join(HERE, "measure.py"), "--data", FIXTURES,
           "--out", out_dir, "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    log_path = os.path.join(out_dir, "session.log")
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=out_dir, env=env, stdout=log,
                                 stderr=subprocess.STDOUT, start_new_session=True)
    memory = TreeMemory(child.pid, os.path.join(out_dir, "phase"))
    memory.start()
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    finally:
        memory.stop()
        reap_session(child.pid)
    result_path = os.path.join(out_dir, "session.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        shutil.rmtree(out_dir, ignore_errors=True)
        fail(f"measured session {'timed out' if rc is None else f'exited {rc}'}; "
             f"log tail:\n{tail}")
    with open(result_path) as f:
        s = json.load(f)

    names = WORKLOADS[a.workload]
    bad = check_outputs(names, s["oracle"], out_dir,
                        os.path.join(WORK, "oracle", fixtures_sha), s["warmup_errors"])
    shutil.rmtree(out_dir)

    passes = s["passes"]
    plain = [p for p in passes if not p["traced"]]
    # the toArrow warm-up execution of a query fails if it raised or its
    # output did not match the oracle; a noop-write execution if it raised
    attempted = len(names) * (2 + len(passes))
    failed = len(bad) + sum(
        1 for p in [s["warmup_pass"], *passes] for q in p["queries"].values()
        if "error" in q)
    per_query = {}
    for n in names:
        times = [p["queries"][n]["construct_s"] + p["queries"][n]["materialize_s"]
                 for p in plain if "error" not in p["queries"][n]]
        per_query[n] = median(times)
    ok_times = [v for v in per_query.values() if v == v and v > 0]
    e2e = {
        "setup_s": s["setup_s"],
        "wall_s": median([p["wall_s"] for p in plain]),
        "query_geomean_s": math.exp(sum(map(math.log, ok_times)) / len(ok_times))
        if ok_times else float("nan"),
        "peak_rss_mb": memory.peak["total"],
    }
    checks = {}
    if a.trace:
        layers = dict(s["layers"])
        traced_wall = layers.pop("traced_wall_s")
        layers.update({
            "process.peak_rss_mb": e2e["peak_rss_mb"],
            "session.import_s": s["import_s"],
            "session.get_spark_s": s["get_spark_s"],
            "session.warmup_s": s["warmup_s"],
            "registry.temp_views_added": s["temp_views_added"],
            "python.workers_rss_mb": memory.peak["workers"],
            "jvm.rss_mb": memory.peak["jvm"],
            "jvm.core_util": layers.get("jvm.executor_run_s", 0.0) / (traced_wall * s["cores"]),
            "trace.overhead_s": traced_wall - e2e["wall_s"],
        })
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        checks = {
            "python.start_s about 0 in timed passes":
                layers.get("python.start_s", 0.0) <= WARM_START_LIMIT_S,
            "driver imports the checkout's package":
                s["driver_package"].startswith(ROOT + os.sep),
            "workers import the checkout's package":
                s["worker_package"].startswith(ROOT + os.sep),
        }
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    correct = not bad and failed == 0 and all(checks.values())

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": bool(a.trace),
        "env": {
            "nproc": cpus, "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "master": s["master"], **s["versions"],
            "sf": 0.1, "fixtures": "seed-42 sf0.1", "fixtures_sha256": fixtures_sha,
            "git_commit": git_commit(), "code_sha256": code_fingerprint(),
        },
        "attempted": attempted, "failed": failed, "mismatched": bad,
        "failed_frac": failed / attempted,
        "passes": len(passes), "untraced_passes": len(plain),
        "per_query_median_s": per_query, "end_to_end": e2e,
        "checks": checks, "metrics": metrics,
        "pass_detail": passes,
    }
    if a.trace:
        record["spans"] = s["spans"]
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"# workload={a.workload} seed={a.seed} trace={a.trace} "
          + " ".join(f"{k}={v}" for k, v in record["env"].items()))
    for n, v in per_query.items():
        print(f"# query {n:32s} median {v:8.3f} s{'  FAILED: ' + bad[n] if n in bad else ''}")
    for k, u in [*END_TO_END, ("peak_rss_mb", "MB")]:
        print(f"# {k:16s} {e2e[k]:12.4f} {u}")
    print(f"# failed_frac      {failed / attempted:12.4f} ratio "
          f"({failed} failed of {attempted} executions)")
    for k, ok in checks.items():
        print(f"# check {k}: {'ok' if ok else 'FAILED'}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
