"""KG-build benchmark: one closed-loop client on local[4].

    python3 perfbench/run.py --workload build_neural --seed 1 --seconds 20 --trace 0

One process drives one Spark session and runs one pipeline operation
at a time; the next starts only after the previous one and its checks
have finished. Workloads (see perfbench/README.md for sizes and why):

* ``build_neural``: ``KGPipeline.run(resume=False)``, neural tagger,
  minhash linking, salted edges;
* ``ingest_delta``: ``KGPipeline.run_incremental`` of a 1% delta into
  a prior graph built once during set-up, then warmed by a tiny merge;
* ``build_rule``: ``KGPipeline.run(resume=False)``, rule tagger, exact
  linking (runnable by hand; not in BENCHMARK.json, see README).

Set-up builds a recovery subject in full (the prior, or job 0). Each
round times a recovery of it - the manifests downstream of ``vocab``
are deleted (what a job killed after ``vocab`` leaves behind) and the
build is resumed - and then an operation on fresh content drawn from
(seed, k) with a fixed shape. Outputs are checked
outside the timed region. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer table of a separate traced operation. The
last line of stdout is one JSON object.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
import zipfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
# Fixed session settings: identical for every commit measured.
SESSION_CONF = {
    "spark.master": f"local[{CORES}]",
    "spark.app.name": "perfbench",
    "spark.driver.memory": "2g",
    "spark.sql.shuffle.partitions": "8",
    "spark.default.parallelism": str(CORES),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # the AQE settings tools/kg_job.py uses
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
}
BLAS_ENV = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")


def workloads():
    from perfbench.gen import Shape

    return {
        "build_neural": {"kind": "build", "backend": "neural", "pair_mode": "minhash",
                         "shape": Shape(turns=600, tail_share=0.5)},
        "ingest_delta": {"kind": "merge", "backend": "rule", "pair_mode": "exact",
                         "prior": Shape(turns=1500), "shape": Shape(turns=15)},
        "build_rule": {"kind": "build", "backend": "rule", "pair_mode": "exact",
                       "shape": Shape(turns=8000)},
    }


# ------------------------------------------------------------ process tree

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / (1 << 20)


class RssSampler:
    """Peak RSS of this process and all its descendants, sampled from
    /proc while ``on`` is set."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0.0
        self.on = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self.on.is_set():
                self.peak = max(self.peak, tree_rss_mb(me))
            self._stop.wait(self.period)

    def close(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)


# ------------------------------------------------------------------ session

def start_session(work: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    conf = dict(SESSION_CONF)
    conf["spark.local.dir"] = os.path.join(work, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    # no hsperfdata under /tmp: the run writes only inside the checkout
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    if event_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ship_package(spark, work: str) -> None:
    """Zip this checkout's package once and ship it to the Python
    workers (they do not inherit the driver's sys.path)."""
    zpath = os.path.join(work, "openie_spark.zip")
    pkg = os.path.join(ROOT, "openie_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for d, _, files in sorted(os.walk(pkg)):
            for f in sorted(files):
                if f.endswith((".py", ".txt")):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, ROOT))
    spark.sparkContext.addPyFile(zpath)


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway and wait for every child."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 30:
        time.sleep(0.2)


# ---------------------------------------------------------------- operations

class Bench:
    """One workload in one session. The recovery subject is built in
    full during set-up: the prior graph on ingest_delta, job 0 on a
    build workload. Each recovery must reproduce its graph."""

    def __init__(self, args, wl: dict, work: str):
        from perfbench.gen import Corpus

        self.args = args
        self.wl = wl
        self.work = work
        self.corpus = Corpus(args.seed, wl["shape"])
        self.aside_s = 0.0      # generation + reference time, not set-up
        self.spark = None
        self.rec_in = self.rec_out = None
        self.rec_graph = None   # nodes / edges / relations of the subject's build
        self.prior_triples: list[dict] = []
        self.neural_jobs: dict[int, tuple[str, str]] = {}

    # -- inputs
    def input_for(self, k: int) -> str:
        t = time.perf_counter()
        s = self.wl["shape"]
        if self.wl["kind"] == "merge":
            first = self.wl["prior"].turns       # new conv_ids only
        else:
            first = k * s.turns                  # distinct conv_ids per job
        d = self.corpus.write(os.path.join(self.work, f"in{k}"), k, first_doc_id=first)
        self.aside_s += time.perf_counter() - t
        return d

    def pipe(self, in_dir: str, out_dir: str):
        from openie_spark.pipeline import KGPipeline

        return KGPipeline(self.spark, in_dir, out_dir, backend=self.wl["backend"],
                          pair_mode=self.wl["pair_mode"])

    # -- operations
    def build_subject(self) -> None:
        """Set-up: build the recovery subject. The build runs every
        stage a recovery reruns, so the timed recoveries start warm."""
        from perfbench.gen import Corpus

        if self.wl["kind"] == "merge":
            t = time.perf_counter()
            self.rec_in = Corpus(self.args.seed, self.wl["prior"]).write(
                os.path.join(self.work, "prior_in"), 0)
            self.aside_s += time.perf_counter() - t
        else:
            self.rec_in = self.input_for(0)
        self.rec_out = os.path.join(self.work, "out0")
        self.pipe(self.rec_in, self.rec_out).run(resume=False)

    def warm_up(self) -> None:
        """Set-up of a merge workload, after the prior's build: merge a
        tiny delta into the prior, so that the timed merges do not
        carry the merge path's first-in-session cost."""
        from perfbench.gen import Corpus, Shape

        t = time.perf_counter()
        delta_in = Corpus(self.args.seed, Shape(turns=3)).write(
            os.path.join(self.work, "warm_in"), 1, first_doc_id=self.wl["prior"].turns)
        self.aside_s += time.perf_counter() - t
        self.pipe(delta_in, os.path.join(self.work, "warm_out")).run_incremental(
            self.rec_out, resume=False)

    def recover(self) -> dict:
        """Delete the subject's manifests downstream of vocab, the state
        a job killed after vocab leaves behind, and resume it."""
        from perfbench.checks import SUFFIX

        for s in SUFFIX:
            mp = os.path.join(self.rec_out, s, "_manifest.json")
            if os.path.exists(mp):
                os.remove(mp)
        return self.pipe(self.rec_in, self.rec_out).run(resume=True)

    def operate(self, in_dir: str, out_dir: str) -> dict:
        p = self.pipe(in_dir, out_dir)
        if self.wl["kind"] == "merge":
            return p.run_incremental(self.rec_out, resume=False)
        return p.run(resume=False)

    def triples_of(self, summary: dict) -> int:
        return summary["delta_triples"] if self.wl["kind"] == "merge" else summary["triples"]

    # -- checks (outside the timed region)
    def _aside(self, fn):
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.aside_s += time.perf_counter() - t

    def _triples(self, in_dir: str, out_dir: str) -> tuple[list[dict], list[str]]:
        """Triples the graph of ``out_dir`` is built from, and problems
        with them. Rule: the DuckDB oracle's triples, which the output
        must equal. Neural: the output's own triples, checked later
        against neural_fused in one batch (check_neural)."""
        from perfbench import checks

        if self.wl["backend"] == "rule":
            want = checks.oracle_triples(os.path.join(in_dir, "documents.parquet"))
            return want, checks.triples_problems(want, out_dir)
        cols = checks.TRIPLE_COLS
        got = [dict(zip(cols, r)) for r in checks.stage_rows(out_dir, "triples", cols)]
        return got, []

    def check_subject(self) -> list[str]:
        """The set-up build against the reference; its graph is what
        every recovery must reproduce."""
        from perfbench import checks

        def run():
            triples, bad = self._triples(self.rec_in, self.rec_out)
            if self.wl["kind"] == "merge":
                self.prior_triples = triples
            elif self.wl["backend"] != "rule":
                self.neural_jobs[0] = (self.rec_in, self.rec_out)
            self.rec_graph = checks.graph_rows(self.rec_out)
            ref = checks.kg_reference(triples, self.wl["pair_mode"])
            return bad + checks.graph_problems(ref, self.rec_out)
        return self._aside(run)

    def check_recovery(self, summary: dict) -> list[str]:
        from perfbench import checks

        return self._aside(lambda: checks.resume_problems(summary)
                           + checks.graph_problems(self.rec_graph, self.rec_out))

    def check_op(self, k: int, in_dir: str, out_dir: str) -> list[str]:
        from perfbench import checks

        def run():
            triples, bad = self._triples(in_dir, out_dir)
            if self.wl["backend"] != "rule":
                self.neural_jobs[k] = (in_dir, out_dir)
            ref = checks.kg_reference(self.prior_triples + triples, self.wl["pair_mode"])
            return bad + checks.graph_problems(ref, out_dir)
        return self._aside(run)

    def check_neural(self) -> dict[int, list[str]]:
        """Staged neural triples of every job vs ``neural_fused`` over
        the same documents, in one Spark job (jobs have disjoint
        conv_id ranges)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from openie_spark.operators.extract import extract_triples
        from openie_spark.sources.transcripts import read_transcripts
        from perfbench import checks

        jobs = self.neural_jobs
        if not jobs:
            return {}
        ref_dir = os.path.join(self.work, "ref_in")
        os.makedirs(ref_dir, exist_ok=True)
        tables = [pq.read_table(os.path.join(i, "documents.parquet")) for i, _ in jobs.values()]
        pq.write_table(pa.concat_tables(tables), os.path.join(ref_dir, "documents.parquet"))
        cols = checks.TRIPLE_COLS + ["args"]
        ref = extract_triples(read_transcripts(self.spark, ref_dir), backend="neural_fused")
        want = checks.rows([r.asDict() for r in ref.select(*cols).collect()], cols)
        turns = self.wl["shape"].turns
        by_job: dict[int, list] = {k: [] for k in jobs}
        for r in want:   # conv_id 'conv-N' holds doc_ids 5N..5N+4
            by_job.setdefault(int(r[0].split("-")[1]) * 5 // turns, []).append(r)
        return {k: ([] if checks.stage_rows(out_dir, "triples", cols) == by_job[k]
                    else ["neural triples differ from neural_fused"])
                for k, (_, out_dir) in jobs.items()}


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def settle(spark) -> None:
    """The same heap state before every timed operation: collect
    garbage in Python and in the JVM, then give Spark's cleaner a
    moment to delete the shuffle and broadcast data that frees."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)


def run_metrics(b: Bench, t_setup0: float, subject_bad: list[str]) -> dict:
    """--trace 0: for --seconds, a timed recovery of the set-up build
    followed by a timed operation on fresh content."""
    sampler = RssSampler()
    job_s, rec_s, tps = [], [], []
    attempted = 1               # the set-up build
    bad_ops: set[str] = set()
    problems: list[str] = []

    def timed(what: str, fn):
        nonlocal attempted
        attempted += 1
        settle(b.spark)
        sampler.on.set()
        t = time.perf_counter()
        try:
            res = fn()
        except Exception:  # noqa: BLE001 - a failed operation is counted
            sampler.on.clear()
            failed(what, [traceback.format_exc(limit=3)])
            return None, 0.0
        el = time.perf_counter() - t
        sampler.on.clear()
        log(f"{what}: {el:.2f}s " + " ".join(
            f"{n}={v['seconds']:.2f}" for n, v in res["stages"].items()))
        return res, el

    def failed(what: str, bad: list[str]) -> None:
        if bad:
            bad_ops.add(what)
            problems.extend(f"{what}: {x}" for x in bad)

    failed("set-up build", subject_bad)
    k = 1
    setup_s = t_window = None
    try:
        while t_window is None or time.perf_counter() - t_window < b.args.seconds:
            in_dir = b.input_for(k)
            out_dir = os.path.join(b.work, f"out{k}")
            if setup_s is None:
                setup_s = time.perf_counter() - t_setup0 - b.aside_s
                t_window = time.perf_counter()
            rsum, el = timed(f"recovery {k}", b.recover)
            if rsum is not None:
                rec_s.append(el)
                failed(f"recovery {k}", b.check_recovery(rsum))
            summary, el = timed(f"op {k}", lambda: b.operate(in_dir, out_dir))
            if summary is not None:
                job_s.append(el)
                tps.append(b.triples_of(summary) / el)
                failed(f"op {k}", b.check_op(k, in_dir, out_dir))
            k += 1
    finally:
        sampler.close()
    for k, bad in b.check_neural().items():
        failed(f"op {k}" if k else "set-up build", bad)
    log("checks done")
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    metrics = {
        "setup_s": (setup_s, "s"),
        "job_s": (median(job_s), "s"),
        "triples_per_s": (median(tps), "1/s"),
        "recover_s": (median(rec_s), "s"),
        "peak_rss_mb": (sampler.peak, "MB"),
    }
    return {"metrics": metrics, "attempted": attempted, "failed": len(bad_ops),
            "samples": {"job_s": len(job_s), "recover_s": len(rec_s)}}


def run_trace(b: Bench, session: dict, event_dir: str, subject_bad: list[str]) -> dict:
    """--trace 1: one untraced operation, then one traced operation
    whose spans and Spark event log are folded per layer. Set-up has
    warmed every path, so the overhead is not confounded with the
    session still warming up."""
    from perfbench import trace as T

    sc = b.spark.sparkContext
    ops = [(b.input_for(k), os.path.join(b.work, f"out{k}")) for k in (1, 2)]
    walls = []
    tracer = T.Tracer(sc)
    for k, (i, o) in enumerate(ops, 1):
        if k == 2:
            tracer.install()
            sc.setJobDescription(None)
            tracer.active = True
        t = time.perf_counter()
        try:
            b.operate(i, o)
        finally:
            walls.append(time.perf_counter() - t)
            if k == 2:
                tracer.active = False
                tracer.uninstall()
                sc.setJobDescription(T.OUTSIDE)
    untraced, traced = walls
    log(f"untraced {untraced:.2f}s, traced {traced:.2f}s")
    problems = {"set-up build": subject_bad}
    for k, (i, o) in enumerate(ops, 1):
        problems[f"op {k}"] = b.check_op(k, i, o)
    for k, bad in b.check_neural().items():
        problems[f"op {k}" if k else "set-up build"] += bad
    for what, bad in problems.items():
        for x in bad:
            print("FAIL", f"{what}: {x}", file=sys.stderr)
    # a no-op resume of the completed output
    in2, out2 = ops[1]
    t = time.perf_counter()
    p = b.pipe(in2, out2)
    if b.wl["kind"] == "merge":
        p.run_incremental(b.rec_out, resume=True)
    else:
        p.run(resume=True)
    noop = time.perf_counter() - t
    link = linking_counts(b, out2)
    written = files = 0
    for st in os.listdir(out2):
        mp = os.path.join(out2, st, "_manifest.json")
        if os.path.exists(mp):
            with open(mp, encoding="utf-8") as f:
                man = json.load(f)
            written += man.get("data_bytes", 0)
            files += man.get("data_files", 0)
    return {"untraced": untraced, "traced": traced, "noop": noop, "link": link,
            "written_mb": written / T.MB, "files": files,
            "spans": tracer.span_table(traced), "session": session,
            "attempted": len(problems), "failed": sum(1 for x in problems.values() if x),
            "event_dir": event_dir}


def linking_counts(b: Bench, out_dir: str) -> dict:
    """Candidate pairs, pair yield and largest block of the traced
    output's vocabulary, through the linking layer's public helpers."""
    from pyspark.sql import functions as F

    from openie_spark.kg.linking import blocked_vocab, linkable, lsh_buckets

    spark = b.spark
    vocab = spark.read.parquet(os.path.join(out_dir, "vocab")).drop("bucket")
    pairs = spark.read.parquet(os.path.join(out_dir, "pairs")).count()
    uncapped = blocked_vocab(vocab, max_block=1 << 62).groupBy("bkey").count()
    max_block = uncapped.agg(F.max("count")).collect()[0][0] or 0
    if b.wl["pair_mode"] == "minhash":
        blocks = lsh_buckets(linkable(vocab)).groupBy("band_idx", "band_hash").count()
    else:
        blocks = blocked_vocab(linkable(vocab)).groupBy("bkey").count()
    cands = blocks.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).collect()[0][0] or 0
    return {"candidates": float(cands), "pairs": pairs, "max_block": float(max_block)}


def layer_metrics(tr: dict) -> dict:
    from perfbench import trace as T

    folded = T.fold_event_log(tr["event_dir"])
    sql = folded["sql"]
    self_s = tr["spans"]["self_s"]
    m: dict[str, tuple[float, str]] = {}
    units = {"wall_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s",
             "rows_out": "count", "shuffle_mb": "MB", "spill_mb": "MB", "skew": "ratio"}
    for layer in T.JOB_LAYERS:
        agg = folded["layers"].get(layer, {})
        for g in T.GENERIC:
            v = self_s.get(layer, 0.0) if g == "wall_s" else agg.get(g, 0.0)
            m[f"{layer}.{g}"] = (float(v), units[g])
    m["sources.wall_s"] = (self_s.get("sources", 0.0), "s")
    m["sources.scan_s"] = (sql.get("sources|scan time", 0.0), "s")
    m["model.wall_s"] = (self_s.get("model", 0.0), "s")
    m["model.python_s"] = (sql.get("model|time to run Python workers", 0.0), "s")
    m["model.python_boot_s"] = (sql.get("model|time to start Python workers", 0.0), "s")
    m["model.to_python_mb"] = (sql.get("model|data sent to Python workers", 0.0), "MB")
    m["model.from_python_mb"] = (sql.get("model|data returned from Python workers", 0.0), "MB")
    m["kg.graph.python_s"] = (sql.get("kg.graph|time to run Python workers", 0.0), "s")
    link = tr["link"]
    m["kg.linking.candidates"] = (link["candidates"], "count")
    m["kg.linking.pair_yield"] = (link["pairs"] / link["candidates"] if link["candidates"] else 0.0, "ratio")
    m["kg.linking.max_block"] = (link["max_block"], "count")
    m["kg.canon.jobs"] = (float(folded["jobs"].get("kg.canon", 0)), "count")
    m["pipeline.write_s"] = (tr["spans"]["write_s"], "s")
    m["pipeline.lineage_s"] = (tr["spans"]["lineage_s"], "s")
    m["pipeline.noop_resume_s"] = (tr["noop"], "s")
    m["pipeline.written_mb"] = (tr["written_mb"], "MB")
    m["pipeline.files"] = (float(tr["files"]), "count")
    m["session.start_s"] = (tr["session"]["start_s"], "s")
    m["session.warmup_s"] = (tr["session"]["warmup_s"], "s")
    m["trace.wall_s"] = (tr["traced"], "s")
    m["trace.overhead"] = (tr["traced"] / tr["untraced"] - 1.0, "ratio")
    m["trace.unattributed"] = (tr["spans"]["unattributed"], "ratio")
    if list(m) != T.per_layer_names():
        raise RuntimeError("per-layer metrics out of step with trace.per_layer_names")
    return m


# ---------------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "openie_spark", "pipeline.py")):
        print(f"perfbench: no openie_spark package next to {HERE}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wls = workloads()
    if args.workload not in wls:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wls)}",
              file=sys.stderr)
        return 2
    wl = wls[args.workload]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for v in BLAS_ENV:
        os.environ[v] = "1"
    event_dir = None
    if args.trace:
        event_dir = os.path.join(work, "events")
        os.makedirs(event_dir)

    b = Bench(args, wl, work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = b.spark = start_session(work, event_dir)
        ship_package(spark, work)
        spark.sparkContext.setJobDescription("perfbench")
        start_s = time.perf_counter() - t0
        # the subject's full build and the warm-up merge take the
        # first-in-session cost of every stage and of the merge path
        t = time.perf_counter()
        aside0 = b.aside_s
        b.build_subject()
        log(f"set-up build: {time.perf_counter() - t:.2f}s")
        if wl["kind"] == "merge":
            b.warm_up()
        warmup_s = time.perf_counter() - t - (b.aside_s - aside0)
        log(f"session {start_s:.2f}s, set-up build and warm-up {warmup_s:.2f}s")
        subject_bad = b.check_subject()
        if args.trace:
            tr = run_trace(b, {"start_s": start_s, "warmup_s": warmup_s}, event_dir, subject_bad)
            stop_session(spark)
            spark = None
            metrics = layer_metrics(tr)
            attempted, failed = tr["attempted"], tr["failed"]
        else:
            res = run_metrics(b, T_PROCESS, subject_bad)
            metrics = res["metrics"]
            attempted, failed = res["attempted"], res["failed"]
            print(f"samples: job_s={res['samples']['job_s']} "
                  f"recover_s={res['samples']['recover_s']}")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    log("stopped")
    for name, (v, unit) in metrics.items():
        print(f"{args.workload} {name} = {v:.6g} {unit}")
    print(f"{args.workload} error_rate = {failed / max(attempted, 1):.6g} ratio "
          f"({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
