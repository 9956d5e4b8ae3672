"""kgforge benchmark runner.

    python3 kgbench/run.py --workload web_kg --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One client drives one workload as a
closed loop on `local[<nproc>]`: one set-up (session start while the
inputs are generated, then the cold op), one timed pass of the
workload's query tail, then ops back to back until `--seconds` have
passed and at least the workload's `timed_ops` ran. The outputs of the
timed ops and of the tail are checked afterwards. The last stdout line is the result: {"correct", "attempted",
"failed", "metrics"}; the line before it is the environment record.

--trace 0 reports the end-to-end metrics. --trace 1 traces the tail pass,
then alternates traced and untraced ops, and reports the per-layer
metrics (see trace.py) plus trace.overhead_s. See README.md for every metric.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.01  # scale factor of the query tails' tables
# the contract tables __spark_entry__'s queries read (as tools/check_contract.py)
SF_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# ------------------------------------------------------------------ memory
def _status_mb(pid: int, key: str) -> float:
    """A field of /proc/<pid>/status in MB: `VmRSS` (resident now) or
    `VmHWM` (peak resident); read from /proc because psutil is not
    installed."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def _heap_after_gc_mb(spark) -> float:
    """JVM heap still in use after a full collection (`System.gc()`)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


# ------------------------------------------------------------- environment
def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _tree_digest() -> str:
    """Content digest of the program and benchmark sources (the checkout
    need not be a git repository)."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob("kgforge/**/*.py", recursive=True)
        + glob.glob("kgbench/*")
        + ["__spark_entry__.py", "tests/gen_fixtures.py", "tests/oracle.py",
           "tools/datagen_sf.py"]
    )
    for path in files:
        if os.path.isfile(path):
            h.update(path.encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not os.path.isdir(".git"):
        return None
    r = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return r.stdout.strip() or None


# --------------------------------------------------------------- workloads
class CsvMapping:
    """The reference's own job, `python -m kgforge -c conf.ini`
    (per-source Turtle), run in-process on the warm session. Its query
    tail reads the mapped shape back: SPARQL over triples built from
    `part` / `nation` / `supplier`, and the RDFS closure."""

    gen, size = "csv", 3_000
    # timed ops, at least; the fastest counts. The first csv op after the
    # tail pass runs 20-35% slower than the ones after it, and single ops
    # ran up to 40% slow at random on a shared host.
    timed_ops = 4
    tail = ["kg_sparql_path_star", "kg_sparql_notexists", "kg_sparql_agg_having", "kg_rdfs_closure"]

    def __init__(self, spark, indir: str):
        self.spark, self.indir = spark, indir

    def op(self, out: str) -> None:
        from kgforge.__main__ import main

        with open(os.devnull, "w") as null:  # main() prints "wrote ..."
            stdout, sys.stdout = sys.stdout, null
            try:
                main(["-c", os.path.join(self.indir, "conf.ini"), "--out", out])
            finally:
                sys.stdout = stdout

    def check(self, outs: list[str]) -> tuple[list[str], float, float, float]:
        import csv

        from kgbench import checks
        from tests import gen_fixtures as G
        from tests import oracle

        with open(os.path.join(self.indir, "mipl.csv"), newline="", encoding="utf-8") as f:
            rows = list(csv.reader(f, delimiter=";"))
        expected = {
            "V5": oracle.v5(G.GRAMMAR_V5, rows, G.MIPL_DOMAIN),
            "V4": oracle.v234("v4", G.GRAMMAR_V2, rows, G.MIPL_DOMAIN),
        }
        onto = oracle.v5_ontology_requirements(G.GRAMMAR_V5, rows, G.MIPL_DOMAIN)
        errors: list[str] = []
        tp = n_got = triples = 0
        for out in outs:
            for name, exp in expected.items():
                errs, got = checks.check_turtle(os.path.join(out, name + ".ttl"), exp)
                errors += errs
                tp += len(got & exp)
                n_got += len(got)
                triples += len(got)
            with open(os.path.join(out, "to-define-in-ontology.txt"), encoding="utf-8") as f:
                errors += checks.check_ontology(f.read().splitlines(), onto)
        n_exp = len(outs) * sum(len(e) for e in expected.values())
        return errors, tp / n_got, tp / n_exp, triples / len(outs)


class WebKg:
    """The north-star pipeline: extract -> mentions -> link -> canonicalize
    under the SCALE profile, then the bucketed, lineage-ledgered write. Its
    query tail is near-duplicate detection over `documents` (MinHash LSH)
    and `embeddings` (sign-bucket cosine), the guarded bucket-pair
    operators that share their pattern with the linker."""

    gen, size = "web", 1_000
    timed_ops = 1  # ~12 s an op; the first after the tail pass is within ~6%
    tail = ["dedup_minhash", "emb_near_dups"]

    def __init__(self, spark, indir: str):
        self.spark, self.indir = spark, indir

    def op(self, out: str) -> None:
        from kgforge.lineage import materialize_triples
        from kgforge.profile import SCALE
        from kgforge.web.pipeline import run_pipeline, unpersist_intermediates

        pages = self.spark.read.parquet(os.path.join(self.indir, "pages"))
        res = run_pipeline(pages, text_from_html=True, persist_intermediate=True, profile=SCALE)
        try:
            materialize_triples(
                res["canonical_triples"], out, salt_partitions=SCALE.salt_partitions
            )
        finally:
            unpersist_intermediates(res)

    def check(self, outs: list[str]) -> tuple[list[str], float, float, float]:
        import pyarrow.dataset as ds

        from kgbench import checks
        from kgforge.lineage import verify_lineage

        with open(os.path.join(self.indir, "truth.json"), encoding="utf-8") as f:
            truth = json.load(f)
        mentions = [tuple(t) for t in truth["mention_triples"]]
        labels = [tuple(t) for t in truth["labels"]]
        canonical = {tuple(t) for t in truth["canonical_triples"]}
        errors: list[str] = []
        prs, triples = [], 0
        for out in outs:
            table = ds.dataset(out, format="parquet", partitioning="hive").to_table(
                columns=["subj", "pred", "obj", "obj_dt"]
            )
            rows = list(zip(*(table.column(c).to_pylist() for c in table.column_names)))
            triples += len(rows)
            errors += [f"{out}: {e}" for e in checks.check_web(rows, mentions, labels)]
            if not verify_lineage(self.spark, out):
                errors.append(f"{out}: verify_lineage is false")
            iri_triples = {(s, p, o) for s, p, o, dt in rows if dt is None}
            prs.append(checks.precision_recall(iri_triples, canonical))
        return (
            errors,
            statistics.median(p for p, _ in prs),
            statistics.median(r for _, r in prs),
            triples / len(outs),
        )


WORKLOADS = {"csv_mapping": CsvMapping, "web_kg": WebKg}


# ---------------------------------------------------------------- the run
def _start_spark(ws: str, trace: bool):
    from kgforge.session import get_spark

    conf = {  # kgforge's own defaults otherwise (driver memory included)
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
        "-Djava.io.tmpdir=" + os.path.join(ws, "tmp"),
    }
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="kgbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def _jvm():
    """The py4j gateway of the driver JVM (`.proc` is its process)."""
    from pyspark import SparkContext

    return SparkContext._gateway


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    gateway = _jvm()
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def _generate(kind: str, seed: int, size: float, out: str) -> subprocess.Popen:
    """Start a generator process (wait for it with `_wait`)."""
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), kind,
         "--seed", str(seed), "--size", str(size), "--out", out]
    )


def _wait(procs: list[subprocess.Popen]) -> None:
    for p in procs:
        if p.wait() != 0:
            raise RuntimeError(f"generator {p.args[2]} exited with {p.returncode}")


class Tail:
    """A workload's query tail: `__spark_entry__` contract queries over
    the seeded `sf` tables, each collected; checked against its
    `oracle_sql()` on DuckDB over the same files."""

    def __init__(self, spark, sfdir: str, names: list[str]):
        import __spark_entry__

        queries = __spark_entry__.queries()
        self.spark, self.sfdir = spark, sfdir
        self.queries = {n: queries[n] for n in names}

    def run(self) -> dict[str, tuple[list[str], list[tuple]]]:
        out = {}
        for name, query in self.queries.items():
            df = query(self.spark, self.sfdir)
            out[name] = (df.columns, [tuple(r) for r in df.collect()])
        return out

    def check(self, results: list[dict]) -> list[str]:
        import duckdb

        from __spark_entry__ import oracle_sql
        from kgbench import checks

        con = duckdb.connect()
        for t in SF_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.sfdir, t)}.parquet')"
            )
        sql, errors = oracle_sql(), []
        for name in self.queries:
            rel = con.sql(sql[name])
            expected = (list(rel.columns), [tuple(r) for r in rel.fetchall()])
            for res in results:
                errors += checks.check_query(name, res[name], expected)
        con.close()
        return errors


def run(args, ws: str) -> dict:
    cls = WORKLOADS[args.workload]
    trace = bool(args.trace)
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": trace, "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": _loadavg(), "python": platform.python_version(),
        "commit": _commit(), "tree_digest": _tree_digest(),
        "inputs": {"kind": cls.gen, "size": cls.size, "sf": SF, "tail": cls.tail},
    }
    # set-up: the session (JVM launch included) starts while the inputs
    # are generated, then the cold op runs
    t0 = time.perf_counter()
    indir, sfdir = os.path.join(ws, "input"), os.path.join(ws, "sf")
    gens = [_generate(cls.gen, args.seed, cls.size, indir), _generate("sf", args.seed, SF, sfdir)]
    try:
        spark, conf = _start_spark(ws, trace)
        t_session = time.perf_counter() - t0
    finally:
        _wait(gens)
    env.update(
        spark=spark.version, conf_overrides=conf,
        java=spark.sparkContext._jvm.System.getProperty("java.version"),
    )
    work, tail = cls(spark, indir), Tail(spark, sfdir, cls.tail)
    tracer = None
    if trace:
        from kgbench.trace import Tracer

        tracer = Tracer(spark)
        tracer.install()

    outs, tail_results = [], []
    attempted = failed = 0

    def timed(fn, *fargs):
        """(seconds, result) of one operation; (None, None) if it raised
        (a failed operation is counted, not fatal)."""
        nonlocal attempted, failed
        attempted += 1
        # flush earlier ops' (and earlier runs') dirty pages first, so their
        # writeback does not land inside this operation's timing
        os.sync()
        t = time.perf_counter()
        try:
            res = fn(*fargs)
        except Exception:
            import traceback

            traceback.print_exc()
            failed += 1
            return None, None
        return time.perf_counter() - t, res

    def op() -> float | None:
        out = os.path.join(ws, f"out{attempted}")
        dt, _ = timed(work.op, out)
        if dt is not None:
            outs.append(out)
        return dt

    def tail_pass() -> float | None:
        dt, res = timed(tail.run)
        if dt is not None:
            tail_results.append(res)
        return dt

    t_inputs = time.perf_counter() - t0
    t_cold = op()
    setup_s = time.perf_counter() - t0
    del outs[:]  # the cold op's output is not checked

    times, tail_times, traced_times, untraced_times = [], [], [], []

    def keep(xs: list, dt: float | None) -> None:
        if dt is not None:
            xs.append(dt)

    # the tail: one pass, each query's first run in the session (plan,
    # code generation, execution), right after the cold op
    if tracer is not None:
        from kgbench.trace import layer_metrics

        tracer.spans, tracer.enabled = [], True
    try:
        keep(tail_times, tail_pass())
    finally:
        if tracer is not None:
            tracer.enabled = False
            tracer.collect(tracer.spans)
            tail_spans = tracer.spans
            tracer.release()

    t_start = time.perf_counter()
    rounds = 0
    layer_runs, metrics = [], {}
    # at least timed_ops (half as many traced / untraced pairs when
    # tracing), whatever --seconds says: a warm op can outlast a short window
    min_rounds = max(1, cls.timed_ops // 2) if trace else cls.timed_ops
    while time.perf_counter() - t_start < args.seconds or rounds < min_rounds:
        rounds += 1
        if tracer is None:
            keep(times, op())
            continue
        tracer.spans, tracer.enabled = [], True
        n_outs = len(outs)
        try:
            keep(traced_times, op())
        finally:
            tracer.enabled = False
        tracer.collect(tracer.spans)
        layer_runs.append(layer_metrics(tail_spans + tracer.spans))
        layer_runs[-1]["lineage.files_written"] = float(sum(
            len(glob.glob(os.path.join(out, "subj_bucket=*", "*.parquet")))
            for out in outs[n_outs:]
        ))
        tracer.release()
        keep(untraced_times, op())
    if trace:  # driver Python + JVM; Python workers are left out (README "Memory")
        metrics["driver.peak_rss_mb"] = (
            _status_mb(os.getpid(), "VmHWM") + _status_mb(_jvm().proc.pid, "VmHWM")
        )
        metrics["driver.heap_after_gc_mb"] = _heap_after_gc_mb(spark)
    env["loadavg_end"] = _loadavg()
    env.update(setup_s=setup_s, session_start_s=t_session, inputs_s=t_inputs, cold_op_s=t_cold,
               op_s=times, tail_s=tail_times, traced_op_s=traced_times,
               untraced_op_s=untraced_times)

    errors, precision, recall, triples = work.check(outs) if outs else (["no output"], 0, 0, 0)
    errors += tail.check(tail_results) if tail_results else ["no tail output"]
    for e in errors[:20]:
        print("CHECK FAILED:", e, file=sys.stderr)
    _stop_spark(spark)
    print(json.dumps({"env": env}))

    def median(xs: list[float]) -> float:  # 0.0 only when every op failed
        return statistics.median(xs) if xs else 0.0

    if trace:
        if layer_runs:
            metrics.update({k: median([r[k] for r in layer_runs]) for k in layer_runs[0]})
        metrics["session.start_s"] = t_session
        if traced_times and untraced_times:  # fastest vs fastest, as op_s
            metrics["trace.overhead_s"] = min(traced_times) - min(untraced_times)
        units = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    else:
        op_s = min(times) if times else 0.0
        metrics.update({
            "op_s": op_s,
            "tail_s": median(tail_times),
            "triples_per_s": triples / op_s if op_s else 0.0,
            "precision": precision,
            "recall": recall,
            "setup_s": setup_s,
        })
        units = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    return {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "kgforge", "__init__.py")):
        print("kgbench: run from the root of a kgforge checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    ws = os.path.join(ROOT, ".kgbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(ws, "tmp"), exist_ok=True)
    # keep PySpark's gateway files and Spark's shuffle/spill files in the checkout
    os.environ["TMPDIR"] = os.path.join(ws, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ws, "spark")
    try:
        result = run(args, ws)
    finally:
        shutil.rmtree(ws, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ws))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
