"""End-to-end benchmark of the dedup engine, run from the root of a checkout.

    python3 perfbench/run.py --workload synth_dense --seed 1 --seconds 10 \\
        --trace 0 [--size tiny]

Workloads (inputs are generated from --seed; see perfbench/prep.py):
  synth_long        long html pages, few duplicate families: the pipeline
                    pass is mostly signature work (p1, Arrow boundary).
  synth_dense       short pages, half of them behind one cookie-notice
                    band: the pass is mostly candidate pairs, verification
                    and clustering (p2-p4, shuffle and hot-key skew).
  drop_then_lookup  one crawl drop folded into a maintained streaming
                    workdir with streaming.ingest_drop, then by-url
                    lookups with kernel.dedupe_one on the new urls.

A run: prep (cached per seed and code version) -> set-up (session, input
load, warm-up) -> measured operations until --seconds have passed, at least
one -> oracle checks after each operation -> every process stopped. With
--trace 1 each layer's entry point runs inside a span (perfbench/spans.py)
and the per-layer metrics (perfbench/layers.py) are printed instead of
the end-to-end ones.

The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
WORK = ROOT / ".perfbench"
CPUS = min(4, os.cpu_count() or 1)

SIZES = {
    "synth_long": {
        "full": {"n_docs": 1200, "token_scale": 8.0, "hot_frac": 0.05,
                 "warm_docs": 24},
        "tiny": {"n_docs": 60, "token_scale": 2.0, "hot_frac": 0.05,
                 "warm_docs": 8}},
    "synth_dense": {
        "full": {"n_docs": 2000, "token_scale": 0.25, "hot_frac": 0.5,
                 "warm_docs": 48},
        "tiny": {"n_docs": 200, "token_scale": 0.25, "hot_frac": 0.5,
                 "warm_docs": 8}},
    "drop_then_lookup": {
        "full": {"n_base": 100, "n_fresh": 20, "n_copies": 10},
        "tiny": {"n_base": 40, "n_fresh": 6, "n_copies": 4}},
}

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s", "op_p50_ms": "ms"}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


class Op:
    """Outcome of one measured operation."""

    def __init__(self, kind: str, wall: float, ok: bool, docs: int = 0,
                 note: str = ""):
        self.kind, self.wall, self.ok, self.docs, self.note = \
            kind, wall, ok, docs, note


def attempt(kind: str, docs: int, fn, check) -> tuple[Op, object]:
    """Time fn(); then check(result) outside the timed part. An exception
    or a mismatch makes the operation failed."""
    t0 = time.monotonic()
    try:
        out = fn()
    except Exception as e:  # a failed operation is a measured outcome
        return Op(kind, time.monotonic() - t0, False, docs,
                  f"{type(e).__name__}: {e}"), None
    wall = time.monotonic() - t0
    try:
        problem = check(out)
    except Exception as e:
        problem = f"check raised {type(e).__name__}: {e}"
    return Op(kind, wall, not problem, docs, problem or ""), out


def same_rows(got, expected, what: str) -> str:
    got, expected = sorted(got), sorted(expected)
    if got == expected:
        return ""
    diff = set(got) ^ set(expected)
    return f"{what}: {len(diff)} rows differ, e.g. {sorted(diff)[:2]}"


# --- batch workloads ----------------------------------------------------------

class SynthWorkload:
    """DedupPipeline(...).run(corpus) on a fresh workdir with resume=False
    and PARITY_CONFIG, as jobs/dedupe_corpus.py runs it."""

    # set-up warm-up trials (setup_s takes their median). One here: a
    # warm-up is a whole pipeline pass on a small slice, ~15 s cold and ~7 s
    # warm, and a second one does not fit the benchmark's time budget
    setup_trials = 1

    def __init__(self, size: dict):
        self.size = size

    def prep(self, seed: int) -> dict:
        from prep import prep_synth
        d, info = prep_synth(ROOT, seed, **self.size)
        import pandas as pd
        exp = pd.read_parquet(d / "expected.parquet")
        self.exp_clusters = list(zip(exp["url"], exp["cluster_id"]))
        self.exp_text = list(zip(exp["url"], exp["text"]))
        self.dir = d
        return info

    def prep_spark(self, spark) -> bool:
        return False

    def load(self, spark) -> None:
        self.corpus = spark.read.parquet(str(self.dir / "corpus"))
        self.warm = spark.read.parquet(str(self.dir / "warm.parquet"))
        self.n_docs = self.corpus.count()
        self.warm.count()

    def _pass(self, spark, corpus, workdir: Path):
        from dedup.config import PARITY_CONFIG
        from dedup.pipeline import DedupPipeline
        pipe = DedupPipeline(spark, str(workdir), PARITY_CONFIG, resume=False)
        return pipe, pipe.run(corpus)

    def warm_up(self, spark, run_dir: Path, i: int) -> None:
        self._pass(spark, self.warm, run_dir / f"warm{i}")
        shutil.rmtree(run_dir / f"warm{i}", ignore_errors=True)

    def cycle(self, spark, run_dir: Path, i: int, trace) -> list[Op]:
        wd = run_dir / f"pass{i}"

        def check(res):
            _, out = res
            clusters = [tuple(r) for r in
                        out["clusters"].select("url", "cluster_id").collect()]
            text = [tuple(r) for r in
                    out["extracted"].select("url", "text").collect()]
            return (same_rows(clusters, self.exp_clusters, "clusters")
                    or same_rows(text, self.exp_text, "extracted text"))

        op, res = attempt("pass", self.n_docs,
                          lambda: self._pass(spark, self.corpus, wd), check)
        if trace is not None and res is not None:
            trace.after_pass(res[0], res[1], wd, self.n_docs)
        shutil.rmtree(wd, ignore_errors=True)
        return [op]


# --- streaming + lookup workload ---------------------------------------------

class DropWorkload:
    """streaming.ingest_drop of one drop into a copy of a template workdir
    that already holds the base, then kernel.dedupe_one(...).collect() for
    new urls against streaming.latest_signatures, one client, closed loop."""

    # a warm-up is one lookup, so three trials cost a few seconds
    setup_trials = 3

    def __init__(self, size: dict):
        self.size = size

    def prep(self, seed: int) -> dict:
        from prep import prep_drop
        d, info = prep_drop(ROOT, seed, **self.size)
        import pandas as pd
        exp = pd.read_parquet(d / "expected.parquet")
        self.exp_clusters = list(zip(exp["url"], exp["cluster_id"]))
        self.lookups = [(u, [tuple(r) for r in rows]) for u, rows in
                        json.loads((d / "lookups.json").read_text())]
        self.dir, self.base_dir = d, info.pop("base_dir")
        self.n_docs = info["n_docs"]
        return info

    # the file-stream checkpoints record absolute source paths, so every
    # fold runs at the paths the template was ingested at
    SRC, WD = WORK / "drop" / "src", WORK / "drop" / "wd"

    def _template(self, spark) -> None:
        """The base ingested once per code version and checkout path."""
        from dedup.config import PARITY_CONFIG
        from dedup.streaming import ingest_drop
        for d in (self.SRC, self.WD):
            shutil.rmtree(d, ignore_errors=True)
        self.SRC.mkdir(parents=True)
        shutil.copy(self.base_dir / "base.parquet", self.SRC)
        t0 = time.monotonic()
        ingest_drop(spark, str(self.SRC), str(self.WD), PARITY_CONFIG)
        log(f"template: base ingested in {time.monotonic() - t0:.1f} s")
        tmp = self.base_dir / "template.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(self.SRC, tmp / "src")
        shutil.copytree(self.WD, tmp / "wd")
        tmp.rename(self.tpl)

    def prep_spark(self, spark) -> bool:
        """Build the template if this code version has none; True when it
        ran Spark work."""
        self.tpl = self.base_dir / "template"
        if self.tpl.exists():
            return False
        self._template(spark)
        return True

    def load(self, spark) -> None:
        self._restore()

    def _restore(self) -> tuple[Path, Path]:
        for d in (self.SRC, self.WD):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.tpl / "src", self.SRC)
        shutil.copytree(self.tpl / "wd", self.WD)
        return self.SRC, self.WD

    def warm_up(self, spark, run_dir: Path, i: int) -> None:
        from dedup.config import PARITY_CONFIG
        from dedup.kernel import dedupe_one
        from dedup.streaming import latest_signatures
        _, wd = self._restore()
        sigs = latest_signatures(spark, str(wd / "signatures"))
        url = sigs.select("url").orderBy("url").limit(1).collect()[0][0]
        dedupe_one(sigs, url, PARITY_CONFIG).collect()

    def cycle(self, spark, run_dir: Path, i: int, trace) -> list[Op]:
        from dedup.config import PARITY_CONFIG
        from dedup.kernel import dedupe_one
        from dedup.streaming import ingest_drop, latest_signatures
        src, wd = self._restore()
        shutil.copy(self.dir / "drop.parquet", src)

        def check_fold(assignments):
            got = [tuple(r) for r in
                   assignments.select("url", "cluster_id").collect()]
            if trace is not None:
                trace.clusters_from(got)
            return same_rows(got, self.exp_clusters, "assignments")

        ops = [attempt("fold", self.n_docs,
                       lambda: ingest_drop(spark, str(src), str(wd),
                                           PARITY_CONFIG), check_fold)[0]]
        sigs = latest_signatures(spark, str(wd / "signatures"))
        for url, expected in self.lookups:
            def lookup(url=url):
                df = dedupe_one(sigs, url, PARITY_CONFIG)
                if trace is None:
                    return df.collect()
                return trace.tracer.span("kernel", "collect", "action",
                                         df.collect)
            op, rows = attempt(
                "lookup", 0, lookup,
                lambda rows, e=expected: same_rows(
                    [tuple(r) for r in rows], e, "lookup"))
            if trace is not None and rows is not None:
                trace.results += len(rows)
            ops.append(op)
        return ops


WORKLOADS = {"synth_long": SynthWorkload, "synth_dense": SynthWorkload,
             "drop_then_lookup": DropWorkload}


# --- process control ----------------------------------------------------------

def start_session():
    from dedup.session import build_session
    spark = build_session(
        "perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
        extra_conf={"spark.local.dir": str(WORK / "spark-local"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={WORK / 'tmp'}"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Have orphaned descendants (a Python worker whose parent exited
    first) re-parented to this process instead of to init, so that
    reap_children can wait for them too."""
    import ctypes
    pr_set_child_subreaper = 36
    ctypes.CDLL(None).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _child_pids() -> list[int]:
    from spans import _children
    return _children().get(os.getpid(), [])


def reap_children(grace_s: float = 20.0) -> None:
    """Wait for every child process to exit and reap it; after grace_s,
    kill the ones still running. Loops because killing a process can hand
    its own children to this one."""
    deadline = time.monotonic() + grace_s
    while kids := _child_pids():
        late = time.monotonic() > deadline
        for pid in kids:
            try:
                if late:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0 if late else os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process it
    started (the Python worker daemon and its workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    # the next session launches a fresh gateway JVM
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_children()


# --- main -------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    if not (ROOT / "dedup" / "__init__.py").is_file():
        print("perfbench: run from the root of a checkout that holds the "
              "dedup package", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    for sub in ("spark-local", "tmp"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ.setdefault("DEDUP_DRIVER_MEM", "2g")

    wl = WORKLOADS[args.workload](SIZES[args.workload][args.size])
    t0 = time.monotonic()
    info = wl.prep(args.seed)
    prep_s = time.monotonic() - t0
    log(f"{args.workload} seed={args.seed} size={args.size} "
        f"prep {prep_s:.2f} s (cached={info['cached']})")

    run_dir = WORK / "runs" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spark = None
    try:
        t0 = time.monotonic()
        spark = start_session()
        if wl.prep_spark(spark):
            # cached prep that needed Spark: restart, so that this run's
            # set-up and operations start as cold as every other run's
            stop_session(spark)
            spark = None
            t0 = time.monotonic()
            spark = start_session()
        session_s = time.monotonic() - t0
        t1 = time.monotonic()
        wl.load(spark)
        load_s = time.monotonic() - t1
        trials = []
        for i in range(wl.setup_trials):
            t1 = time.monotonic()
            wl.warm_up(spark, run_dir, i)
            trials.append(time.monotonic() - t1)
        setup_s = session_s + load_s + statistics.median(trials)
        log(f"set-up {time.monotonic() - t0:.2f} s (session "
            f"{session_s:.2f} s, load {load_s:.2f} s, warm-up trials "
            f"{', '.join(f'{x:.2f}' for x in trials)}); setup_s counts the "
            "median trial")

        trace = None
        if args.trace:
            from layers import LayerTrace
            trace = LayerTrace(spark)
        from spans import RssSampler, gc_ms
        from pyspark import SparkContext
        ops: list[Op] = []
        gc0 = gc_ms(spark)
        t0 = time.monotonic()
        with RssSampler(SparkContext._gateway.proc.pid) as rss:
            i = 0
            while i == 0 or time.monotonic() - t0 < args.seconds:
                ops.extend(wl.cycle(spark, run_dir, i, trace))
                i += 1
        measured_s = time.monotonic() - t0
        gc_s = (gc_ms(spark) - gc0) / 1000
        log(f"measured {measured_s:.2f} s: {i} cycle(s), {len(ops)} ops")
        for op in ops:
            if not op.ok:
                log(f"FAILED {op.kind}: {op.note}")

        if trace is not None:
            metrics = trace.finish(
                ops, gc_s, session_s, rss.peak,
                WORK / "spans" / f"{args.workload}-{args.seed}.json",
                untraced_walls(args.workload))
        else:
            log(f"peak_rss {rss.peak / 2**20:.0f} MB (driver JVM and its "
                "Python workers)")
            metrics = end_to_end(ops, setup_s)
            remember_untraced(args.workload, ops)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not op.ok for op in ops)
    log(f"failed_frac {failed / len(ops):.4f} ({failed}/{len(ops)} ops)")
    for name, m in metrics.items():
        log(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


def end_to_end(ops: list[Op], setup_s: float) -> dict:
    writes = [op for op in ops if op.kind in ("pass", "fold")]
    reads = [op for op in ops if op.kind == "lookup"] or writes
    lat = sorted(op.wall * 1000 for op in reads)
    p50 = statistics.median(lat)
    log(f"{writes[0].kind} walls: "
        f"{', '.join(f'{op.wall:.3f}' for op in writes)} s")
    log(f"{reads[0].kind} p50 {p50:.1f} ms over {len(lat)} samples"
        + (f", p90 {lat[int(0.9 * len(lat)) - 1]:.1f} ms"
           if len(lat) >= 20 else ""))
    values = {
        "setup_s": setup_s,
        "docs_per_s": statistics.median(op.docs / op.wall for op in writes),
        "op_p50_ms": p50,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def _untraced_file(workload: str) -> Path:
    from prep import code_hash
    return WORK / "untraced" / f"{workload}-{code_hash(ROOT)}.json"


def untraced_walls(workload: str) -> dict:
    p = _untraced_file(workload)
    return json.loads(p.read_text()) if p.exists() else {}


def remember_untraced(workload: str, ops: list[Op]) -> None:
    """Keep this code version's untraced operation walls, so a traced run
    can report its overhead against them."""
    p = _untraced_file(workload)
    p.parent.mkdir(parents=True, exist_ok=True)
    old = untraced_walls(workload)
    for op in ops:
        old.setdefault(op.kind, []).append(op.wall)
    p.write_text(json.dumps(old))


if __name__ == "__main__":
    become_subreaper()
    try:
        code = main()
    finally:
        reap_children()
    sys.exit(code)
