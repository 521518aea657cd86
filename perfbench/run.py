"""perfbench: end-to-end benchmark of the committed KG build.

Drives ``plans.pipeline.run_pipeline`` and ``operators.graph_stats.graph_stats``
as one closed-loop client (one driver process on ``local[nproc]``, one job at a
time) and checks every committed edge set against the oracle digest made by
``prepare.py``. See ``perfbench/README.md`` for workloads and metrics.

    python3 perfbench/run.py --workload build_ascii --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` its per-layer
metrics (a separate, traced invocation). Every file it writes goes under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import prepare as prep  # noqa: E402
import spans as tr_mod  # noqa: E402

WORK_DIR = ".perfbench_work"
# The pool is written and scanned by the oracle once per checkout (the first
# run); a seed then picks CONVS of its conversations (~4,200 turns). At this
# size run_pipeline's first call in a fresh JVM is mostly per-job overhead and
# JIT warm-up: on 4 cores it took 21 s here and 32 s at 16,000 conversations,
# where a run would no longer fit the run budget (see README.md).
POOL_CONVS = 1200
CONVS = 500
SMOKE_POOL_CONVS = 40
SMOKE_CONVS = 12
# resume_batched: 2 hash buckets, one bucket per unit batch, crash after 1
N_BUCKETS = 2
RESUME_KW = {"n_buckets": N_BUCKETS, "unit_batch_size": 1}
# appended to one row of the fallback probe's slice: a non-ASCII character
# sends the whole batch from the columnar scan to the regex path
NON_ASCII_WORD = "café"

WORKLOADS = {
    # submit_pipeline's defaults: 8 buckets, one unit batch; then graph_stats
    "build_ascii": {"resume": False, "stats": True},
    # crash after half the unit batches, resume, re-run with all units done
    "resume_batched": {"resume": True, "stats": False},
}

E2E = {  # name -> unit
    "setup_s": "s", "build_s": "s", "triples_per_s": "1/s",
    "out_bytes_per_in_byte": "ratio",
}
# Printed in the table only: workload-specific figures, failed_frac (0 on a
# correct run), peak_rss_mb, whose run-to-run spread (JVM heap growth
# follows GC timing; IQR up to 0.26 of the median) is too wide to gate on,
# and steal_s, the CPU time taken by other guests during the timed part.
SUMMARY = {
    "stats_s": "s", "crash_leg_s": "s", "resume_s": "s", "rerun_s": "s",
    "peak_rss_mb": "MB", "failed_frac": "ratio", "steal_s": "s",
}


def du(path: str) -> int:
    n = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(d, f)
            if not os.path.islink(fp):
                n += os.path.getsize(fp)
    return n


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the steal column of /proc/stat; 0 where there is none). A timed run
    that took longer than its neighbours usually shows more of it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def versions(root: str, java: str) -> dict:
    import pyarrow
    import pyspark

    git = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    return {
        "nproc": os.cpu_count(),
        "git_commit": git.stdout.strip() if git.returncode == 0 else "unknown",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java,
    }


class Bench:
    """One benchmark process: the session, the corpus, and the tallies."""

    def __init__(self, args, work: str, cdir: str):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.cdir = cdir
        self.run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.tracer = None

    # ------------------------------------------------------------- set-up

    def setup(self) -> float:
        """Session start, corpus open and one warm-up pass; returns seconds
        of set-up including interpreter start and imports."""
        t0 = time.perf_counter()
        from kg_obo_spark.datagen.ontology import build_ontology
        from kg_obo_spark.session import get_spark

        extra = None
        if self.args.trace:
            self.event_dir = os.path.join(self.run_dir, "events")
            os.makedirs(self.event_dir, exist_ok=True)
            extra = {"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + self.event_dir}
        t1 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=extra)
        self.session_start_s = time.perf_counter() - t1
        self.onto = build_ontology(n_terms=prep.N_TERMS)
        with open(os.path.join(self.cdir, "oracle.json")) as f:
            self.expect = json.load(f)
        self.data = os.path.join(self.cdir, "ascii")
        self.in_bytes = du(self.data)
        self.tr = self.spark.read.parquet(self.data)
        self.warm_up()
        return (t0 - T_START) + (time.perf_counter() - t0)

    def warm_up(self) -> None:
        """Untimed work on the first two turns of each conversation, so that
        the gated figures do not pay for the JVM's first jobs. In a fresh JVM
        the first crash leg took 13.8 s against 5.5 s for the next, and the
        excess grew with the machine's load.

        ``build_ascii`` runs a crash leg (2 buckets, stop after 1) here. It
        starts the Python workers, builds their matchers and JIT-compiles the
        count, extraction, commit and bookkeeping paths of the build. Its
        first timed build then came within 10% of a warm one. Finalize and
        ``graph_stats`` stay cold: warming them too cost 7 s more a run than
        it saved.

        ``resume_batched`` only starts the workers with an extraction pass.
        Its own first leg, the crash leg, runs the same batch path as the
        resume leg and does the rest of the warming, so it is timed and
        printed but left out of the gated ``build_s``. A warm-up crash leg on
        top of it would make each run 7-10 s longer than the run budget
        allows.

        An exception or a leftover lock counts as a failed operation."""
        from pyspark.sql import functions as F

        from kg_obo_spark.operators.extract import extract_mentions

        sub = self.tr.filter(F.col("turn_idx") < 2)
        if self.cfg["resume"]:
            extract_mentions(sub, self.onto).write.format("noop").mode("overwrite").save()
            return
        out = self.fresh_root()
        self.crash_leg(out, sub)
        shutil.rmtree(out, ignore_errors=True)

    # ------------------------------------------------------- bookkeeping

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def attempt(self, what: str, fn):
        """One operation: returns fn's result, or None after counting an
        exception as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{what} raised")
            return None

    def check_lock(self, out: str, what: str) -> None:
        if os.path.exists(os.path.join(out, "_lock")):
            self.fail(f"{what} left _lock behind")

    def check_edges(self, res, what: str) -> None:
        rows = res.edges.select("subject", "predicate", "object").collect()
        triples = {tuple(r) for r in rows}
        if self.args.corrupt_edges and triples:
            triples.discard(min(triples))
        if len(rows) != len(triples) or prep.digest(triples) != self.expect["digest"]:
            self.fail(f"{what}: committed edges differ from the oracle "
                      f"({len(triples)} vs {self.expect['triples']} triples)")

    def fresh_root(self) -> str:
        return os.path.join(self.run_dir, "out-" + uuid.uuid4().hex[:8])

    def pipeline(self, out: str, tr=None, **kw):
        from kg_obo_spark.plans.pipeline import run_pipeline

        with self.span("pipeline.run_pipeline"):
            return run_pipeline(self.spark, self.tr if tr is None else tr, self.onto, out, **kw)

    # ------------------------------------------------------------ iterations

    def build_iteration(self) -> dict:
        import kg_obo_spark.operators.graph_stats as gs

        m = {}
        out = self.fresh_root()
        t = time.perf_counter()
        res = self.attempt("run_pipeline", lambda: self.pipeline(out))
        m["build_s"] = time.perf_counter() - t
        self.check_lock(out, "run_pipeline")
        if res is not None:
            self.check_edges(res, "run_pipeline")
            if self.cfg["stats"]:
                t = time.perf_counter()
                st = self.attempt("graph_stats", lambda: gs.graph_stats(res.nodes, res.edges))
                m["stats_s"] = time.perf_counter() - t
                if st is not None and (st.edges, st.nodes) != (
                    self.expect["triples"], self.expect["nodes"]
                ):
                    self.fail(f"graph_stats: {st.nodes} nodes / {st.edges} edges, "
                              f"oracle {self.expect['nodes']} / {self.expect['triples']}")
        return self.finish(out, m)

    def resume_iteration(self) -> dict:
        from pyspark.sql import functions as F

        from kg_obo_spark.sources.tableio import Table

        m = {}
        out = self.fresh_root()
        half = N_BUCKETS // 2
        m["crash_leg_s"] = self.crash_leg(out)
        lineage = Table(os.path.join(out, "lineage"))
        done = sorted(
            int(r[0]) for r in lineage.read(self.spark)
            .filter(F.col("stage") == "unit_done").select("snapshot_id").collect()
        )
        if done != list(range(half)):
            self.fail(f"crash leg committed units {done}, expected {list(range(half))}")

        t = time.perf_counter()
        res = self.attempt("resume leg", lambda: self.pipeline(out, **RESUME_KW))
        m["resume_s"] = time.perf_counter() - t
        self.check_lock(out, "resume leg")
        if res is not None:
            if sorted(res.units_skipped) != done:
                self.fail(f"resume skipped {res.units_skipped}, leg 1 committed {done}")
            self.check_edges(res, "resume leg")

        t = time.perf_counter()
        res = self.attempt("rerun leg", lambda: self.pipeline(out, **RESUME_KW))
        m["rerun_s"] = time.perf_counter() - t
        self.check_lock(out, "rerun leg")
        if res is not None:
            if sorted(res.units_skipped) != list(range(N_BUCKETS)) or res.units_processed:
                self.fail(f"rerun processed {res.units_processed}")
            self.check_edges(res, "rerun leg")
        # gated: finishing the crashed build and confirming it done; the
        # crash leg, first in the JVM, carries the warm-up (see warm_up)
        m["build_s"] = m["resume_s"] + m["rerun_s"]
        return self.finish(out, m)

    def crash_leg(self, out: str, tr=None) -> float:
        """Leg 1 of resume_batched, on ``tr`` (the corpus by default): stops
        on the injected failure after half the unit batches. Returns its
        wall time."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            self.pipeline(out, tr, **RESUME_KW,
                          fail_after_batches=N_BUCKETS // 2)
            self.fail("crash leg finished without the injected failure")
        except RuntimeError as ex:  # LockHeldError is one too
            if "injected failure" not in str(ex):
                traceback.print_exc(file=sys.stderr)
                self.fail("crash leg raised")
        wall = time.perf_counter() - t
        self.check_lock(out, "crash leg")
        return wall

    def first_leg(self) -> float:
        """Untraced reference for the tracing overhead: the first
        run_pipeline call of an iteration (the crash leg when resuming)."""
        out = self.fresh_root()
        if self.cfg["resume"]:
            wall = self.crash_leg(out)
        else:
            t = time.perf_counter()
            self.attempt("run_pipeline", lambda: self.pipeline(out))
            wall = time.perf_counter() - t
            self.check_lock(out, "run_pipeline")
        shutil.rmtree(out, ignore_errors=True)
        return wall

    def finish(self, out: str, m: dict) -> dict:
        from kg_obo_spark.sources.tableio import Table

        m["triples_per_s"] = self.expect["triples"] / m["build_s"]
        m["out_bytes_per_in_byte"] = du(out) / self.in_bytes
        edges = Table(os.path.join(out, "edges")).latest()
        m["edge_rows"] = edges.row_count if edges else 0
        m["table_bytes"] = {t: du(os.path.join(out, t)) for t in tr_mod.TABLES}
        shutil.rmtree(out, ignore_errors=True)
        return m

    def iteration(self) -> dict:
        if self.cfg["resume"]:
            return self.resume_iteration()
        return self.build_iteration()

    # --------------------------------------------------------------- runs

    def measure(self, seconds: float) -> list[dict]:
        iters = []
        t0 = time.perf_counter()
        while not iters or time.perf_counter() - t0 < seconds:
            iters.append(self.iteration())
        return iters

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        kb = vm_hwm_kb("self")
        jvm = SparkContext._gateway.proc.pid
        return (kb + vm_hwm_kb(jvm)) / 1024

    def stop(self) -> None:
        from pyspark import SparkContext

        if SparkContext._gateway is None:  # the session never started
            return
        proc = SparkContext._gateway.proc
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)

    def probes(self) -> dict:
        """Per-layer figures measured outside run_pipeline."""
        import pyarrow.parquet as pq
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from kg_obo_spark.dictionary import build_matcher
        from kg_obo_spark.operators.canonicalize import canonical_map
        from kg_obo_spark.operators.extract import extract_mentions, extract_turn_terms
        from kg_obo_spark.operators.materialize import edges_from_per_turn

        p = {}
        t = time.perf_counter()
        matcher = build_matcher(self.onto)
        matcher._get_scanner()
        p["dictionary.build_s"] = time.perf_counter() - t

        # a fixed 10k-turn slice: the ASCII corpus's texts, repeated
        texts = [r[2] or "" for r in prep.read_rows(self.data)]
        slice_ = (texts * (10_000 // max(len(texts), 1) + 1))[:10_000]
        p["dictionary.columnar_rows_per_s"] = rate(
            lambda: matcher.find_batch_columnar(slice_, need_surface=True), 10_000)
        # the same slice with one non-ASCII row takes the regex path whole
        mixed = [f"{slice_[0]} {NON_ASCII_WORD}", *slice_[1:]]
        assert matcher.find_batch_columnar(mixed) is None, \
            "the columnar scan took non-ASCII text; the fallback probe needs other input"
        self.attempted += 1
        if matcher.find_batch(mixed) != matcher.find_batch(slice_):
            self.fail("dictionary: the regex path and the columnar scan disagree")
        p["dictionary.fallback_rows_per_s"] = rate(lambda: matcher.find_batch(mixed), 10_000)
        # share of the workload corpus's Arrow batches (one per file here,
        # 10k rows at most) that leave the columnar scan
        batches = fell_back = 0
        for name in sorted(os.listdir(self.data)):
            if name.endswith(".parquet"):
                col = pq.read_table(os.path.join(self.data, name), columns=["text"])
                for b in col.to_batches(max_chunksize=10_000):
                    batches += 1
                    fell_back += matcher.find_batch_columnar(
                        b.column(0).to_pylist()) is None
        p["dictionary.fallback_batch_share"] = fell_back / max(batches, 1)

        obs = Observation("mentions")
        t = time.perf_counter()
        extract_mentions(self.tr, self.onto).observe(obs, F.count(F.lit(1)).alias("n")) \
            .write.format("noop").mode("overwrite").save()
        p["extract.mentions_s"] = time.perf_counter() - t
        p["extract.mention_rows"] = obs.get["n"]

        eq = self.spark.createDataFrame(self.onto.xrefs, "a string, b string")
        terms = self.spark.createDataFrame([(x["id"],) for x in self.onto.terms], "id string")
        cdict = {r[0]: r[1] for r in canonical_map(terms, eq).collect()}
        t = time.perf_counter()
        extract_turn_terms(self.tr, self.onto, cdict) \
            .write.format("noop").mode("overwrite").save()
        p["extract.turn_terms_s"] = time.perf_counter() - t
        # the compute-only dataflow bench.py times (ROADMAP aim 1's floor)
        t = time.perf_counter()
        edges_from_per_turn(extract_turn_terms(self.tr, self.onto, cdict), self.onto) \
            .write.format("noop").mode("overwrite").save()
        p["floor_s"] = time.perf_counter() - t
        return p


def rate(fn, rows: int, min_s: float = 0.3) -> float:
    n = 0
    t0 = time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return n * rows / el


def layer_metrics(b: Bench, spans: list, probes: dict, untraced_leg: float,
                  traced: dict) -> dict:
    spark = tr_mod.spark_by_span(b.event_dir)
    runs = [s for s in spans if s["name"] == "pipeline.run_pipeline"]
    in_runs = tr_mod.descendants(spans, [s["id"] for s in runs])
    stats = [s["id"] for s in spans if s["name"] == "graph_stats.graph_stats"]
    in_stats = tr_mod.descendants(spans, stats)
    selfs = tr_mod.self_times(spans)

    def span_s(name, within=in_runs):
        return tr_mod.total(spans, lambda s: s["name"] == name and s["id"] in within)

    m = {
        "session.start_s": b.session_start_s,
        "dictionary.build_s": probes["dictionary.build_s"],
        "dictionary.columnar_rows_per_s": probes["dictionary.columnar_rows_per_s"],
        "dictionary.fallback_rows_per_s": probes["dictionary.fallback_rows_per_s"],
        "dictionary.fallback_batch_share": probes["dictionary.fallback_batch_share"],
        "extract.mentions_s": probes["extract.mentions_s"],
        "extract.turn_terms_s": probes["extract.turn_terms_s"],
        "extract.mention_rows": probes["extract.mention_rows"],
        "materialize.co_edges_s": span_s("tableio.commit:co_edges"),
        "materialize.finalize_s": span_s("tableio.commit:nodes") + span_s("tableio.commit:edges"),
        "materialize.edge_rows": traced["edge_rows"],
        "canonicalize.canonical_map_s": span_s("canonicalize.canonical_map"),
        "canonicalize.components_s": span_s("graph_stats.component_stats", in_stats),
        "graph_stats.degree_s": span_s("graph_stats.degree_frame", in_stats) + tr_mod.total(
            spans, lambda s: s["name"] == "dataframe.first" and s["parent"] in stats),
        "graph_stats.singletons_s": span_s("graph_stats.singleton_count", in_stats),
    }
    for t in tr_mod.TABLES:
        m[f"tableio.{t}.commits"] = sum(
            1 for s in spans if s["name"] == f"tableio.commit:{t}" and s["id"] in in_runs)
        m[f"tableio.{t}.commit_s"] = span_s(f"tableio.commit:{t}")
        m[f"tableio.{t}.read_s"] = span_s(f"tableio.read:{t}")
        m[f"tableio.{t}.bytes_written"] = traced["table_bytes"][t]
    m["tracking.pending_units_s"] = span_s("tracking.pending_units")
    m["tracking.bookkeeping_s"] = sum(span_s(f"tracking.{n}") for n in
                                      ("log_stage", "mark_units_done", "track_version"))
    m["pipeline.count_s"] = tr_mod.total(
        spans, lambda s: s["name"] == "dataframe.count"
        and s["parent"] in {r["id"] for r in runs})
    m["pipeline.spark_jobs"] = sum(
        v["jobs"] for k, v in spark.items() if k in in_runs) / max(len(runs), 1)
    m["pipeline.self_s"] = sum(selfs[s["id"]] for s in runs)
    m["pipeline.floor_ratio"] = traced["build_s"] / probes["floor_s"]
    for key in ("tasks", "shuffle_write_bytes", "executor_run_s", "gc_s"):
        m[f"spark.{key}"] = sum(v[key] for k, v in spark.items() if k in in_runs)
    leg = "crash_leg_s" if b.cfg["resume"] else "build_s"
    m["trace.overhead_s"] = traced[leg] - untraced_leg
    for s in spans:
        s["self_s"] = selfs[s["id"]]
        s["spark"] = spark.get(s["id"])
    return m


def median_metrics(iters: list[dict], names) -> dict:
    return {k: statistics.median(i[k] for i in iters) for k in names if k in iters[0]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help=f"tiny corpus ({SMOKE_CONVS} conversations) for the benchmark's tests")
    p.add_argument("--corrupt-edges", action="store_true",
                   help="drop one committed triple before the oracle check (tests the gate)")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kg_obo_spark", "plans", "pipeline.py")):
        print("perfbench: run from the root of a kg_obo_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, WORK_DIR)
    pool, convs = (SMOKE_POOL_CONVS, SMOKE_CONVS) if args.smoke else (POOL_CONVS, CONVS)
    t = time.perf_counter()
    if not os.path.isdir(prep.pool_dir(work, pool)):
        # in its own process and JVM, so set-up below starts equally cold
        os.makedirs(work, exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), "--root", root,
             "--work", work, "--pool-convs", str(pool)],
            cwd=work, check=True, stdout=sys.stderr,
        )
    cdir = prep.write_corpus(work, pool, args.seed, convs)
    prepare_s = time.perf_counter() - t
    prep.spark_env(root, work)

    b = Bench(args, work, cdir)
    os.makedirs(b.run_dir, exist_ok=True)
    os.chdir(b.run_dir)  # anything Spark drops in its cwd stays in the run dir
    try:
        setup_s = b.setup() - prepare_s
        if args.trace:
            probes = b.probes()
            tracer = b.tracer = tr_mod.Tracer(b.spark)
            tracer.install()
            try:
                with tracer.span("perfbench.iteration"):
                    traced = b.iteration()
            finally:
                tracer.uninstall()
                b.tracer = None
            # the untraced reference runs after the traced iteration. On
            # build_ascii both follow the warm-up; on resume_batched the traced
            # crash leg is the JVM's first, so the overhead reads high there
            untraced_leg = b.first_leg()
            iters = [traced]
        else:
            stolen = steal_s()
            iters = b.measure(args.seconds)
            stolen = steal_s() - stolen
        rss = b.peak_rss_mb()
        java = b.spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        b.stop()
    if args.trace:
        metrics = layer_metrics(b, tracer.spans, probes, untraced_leg, traced)
        tdir = os.path.join(work, "traces")
        os.makedirs(tdir, exist_ok=True)
        tracer.write(os.path.join(tdir, f"{args.workload}-s{args.seed}-spans.json"))
        errs = tr_mod.nesting_errors(tracer.spans)
        for e in errs:
            b.fail(f"trace: {e}")
        units = {k: layer_unit(k) for k in metrics}
    else:
        metrics = median_metrics(iters, E2E)
        metrics["setup_s"] = setup_s
        units = E2E
    shutil.rmtree(b.run_dir, ignore_errors=True)

    summary = median_metrics(iters, SUMMARY)
    summary["peak_rss_mb"] = rss
    summary["failed_frac"] = b.failed / max(b.attempted, 1)
    if not args.trace:
        summary["steal_s"] = stolen
    record = {"workload": args.workload, "seed": args.seed, "iterations": len(iters),
              "prepare_s": prepare_s, "oracle_triples": b.expect["triples"], **versions(root, java)}
    print("perfbench: " + json.dumps(record), file=sys.stderr)
    with open(os.path.join(work, "results.jsonl"), "a") as f:
        f.write(json.dumps({**record, "trace": args.trace, "failed": b.failed,
                            "metrics": metrics, **summary}) + "\n")
    for k, v in {**metrics, **summary}.items():
        unit = units.get(k) or SUMMARY[k]
        print(f"{args.workload:16s} {k:36s} {v:16.6g} {unit:6s} n={len(iters)}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": max(b.attempted, 1),
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes_written") or name.endswith("_bytes"):
        return "bytes"
    if name.endswith("share") or name.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
