"""Per-layer metrics of the traced run (--trace 1).

Layers are named after the dedup modules whose entry points the spans wrap
(perfbench/spans.py ENTRY_POINTS). Time, job, task and byte figures are per
write operation (a pipeline pass or a fold); kernel figures are per lookup.
A layer a workload does not reach reports 0.
"""

from __future__ import annotations

import statistics
from pathlib import Path

from spans import Tracer, install_spans, streaming_listener

PER_LAYER = {
    "session.build_s": "s",
    "signature.build_s": "s", "signature.action_s": "s",
    "signature.executor_run_s": "s", "signature.input_bytes": "bytes",
    "signature.py_bytes_sent": "bytes", "signature.py_bytes_received": "bytes",
    "lsh.build_s": "s", "lsh.build_jobs": "count", "lsh.action_s": "s",
    "lsh.jobs": "count", "lsh.tasks": "count",
    "lsh.shuffle_write_bytes": "bytes", "lsh.shuffle_read_bytes": "bytes",
    "lsh.candidate_pairs": "count", "lsh.pairs_per_doc": "ratio",
    "lsh.capped_keys": "count",
    "verify.action_s": "s", "verify.executor_run_s": "s",
    "verify.shuffle_read_bytes": "bytes", "verify.py_bytes_sent": "bytes",
    "verify.keep_ratio": "ratio",
    "cluster.build_s": "s", "cluster.build_jobs": "count",
    "cluster.action_s": "s", "cluster.jobs": "count",
    "cluster.shuffle_write_bytes": "bytes", "cluster.clusters": "count",
    "cluster.largest_cluster": "count",
    "pipeline.bookkeeping_s": "s", "pipeline.bookkeeping_jobs": "count",
    "pipeline.bytes_written": "bytes",
    "streaming.batches": "count", "streaming.sig_stream_s": "s",
    "streaming.pair_stream_s": "s", "streaming.sink_s": "s",
    "streaming.state_rows_total": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_memory_bytes": "bytes", "streaming.state_commit_s": "s",
    "kernel.lookup_build_ms": "ms", "kernel.lookup_collect_ms": "ms",
    "kernel.lookup_jobs": "count", "kernel.results": "count",
    "process.gc_s": "s", "process.peak_rss_mb": "MB",
}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


class LayerTrace:
    def __init__(self, spark):
        self.spark = spark
        self.tracer = Tracer(spark)
        install_spans(self.tracer)
        self.events = streaming_listener(spark)
        self.passes: list[dict] = []
        self.cluster_sizes: list[list[int]] = []
        self.results = 0

    # --- counts read after each operation, outside its timed part ----------
    def after_pass(self, pipe, out, workdir: Path, n_docs: int) -> None:
        from pyspark.sql import functions as F
        rows = {s.name: s.rows for s in pipe.stage_infos}
        capped = (out["metrics"].where("stage = 'pairs'")
                  .agg(F.max("n_capped_buckets")).collect()[0][0])
        sizes = [r[0] for r in out["clusters"].groupBy("cluster_id").count()
                 .select("count").collect()]
        self.cluster_sizes.append(sizes)
        self.passes.append({
            "n_docs": n_docs,
            "pairs": rows["pairs"],
            "kept": out["verified"].where("keep").count(),
            "capped": capped or 0,
            "bytes": sum(p.stat().st_size for p in workdir.rglob("*")
                         if p.is_file()),
        })

    def clusters_from(self, assignments) -> None:
        sizes: dict[str, int] = {}
        for _, cid in assignments:
            sizes[cid] = sizes.get(cid, 0) + 1
        self.cluster_sizes.append(list(sizes.values()))

    # --- metrics -----------------------------------------------------------
    def finish(self, ops, gc_s: float, session_s: float, peak_rss: int,
               spans_path: Path, untraced: dict | None = None) -> dict:
        t = self.tracer
        t.attach_rest()
        t.write(spans_path)
        spans = t.spans
        n_w = max(1, sum(op.kind in ("pass", "fold") for op in ops))

        def pick(layer, *kinds):
            return [s for s in spans if s["layer"] == layer
                    and (not kinds or s["kind"] in kinds)]

        by_id = {s["id"]: s for s in spans}

        def per_op(layer, field, *kinds):
            # a span nested in a span of its own layer adds no wall time
            ss = pick(layer, *kinds)
            total = sum(
                s[field] if field != "wall" else
                0.0 if by_id.get(s["parent"], {}).get("layer") == layer
                else _dur(s) for s in ss)
            return total / n_w

        m = {"session.build_s": session_s, "process.gc_s": gc_s,
             "process.peak_rss_mb": peak_rss / 2**20}
        for f in ("build", "action"):
            for layer in ("signature", "lsh", "cluster"):
                m[f"{layer}.{f}_s"] = per_op(layer, "wall", f)
        m["verify.action_s"] = per_op("verify", "wall", "action")
        for layer in ("lsh", "cluster"):
            m[f"{layer}.build_jobs"] = per_op(layer, "jobs", "build")
            m[f"{layer}.jobs"] = per_op(layer, "jobs")
        for f in ("executor_run_s", "input_bytes", "py_bytes_sent",
                  "py_bytes_received"):
            m[f"signature.{f}"] = per_op("signature", f)
        m["lsh.tasks"] = per_op("lsh", "tasks")
        for f in ("shuffle_write_bytes", "shuffle_read_bytes"):
            m[f"lsh.{f}"] = per_op("lsh", f)
        m["cluster.shuffle_write_bytes"] = per_op("cluster",
                                                  "shuffle_write_bytes")
        for f in ("executor_run_s", "shuffle_read_bytes", "py_bytes_sent"):
            m[f"verify.{f}"] = per_op("verify", f)

        p = self.passes
        pairs = _median(x["pairs"] for x in p)
        m["lsh.candidate_pairs"] = pairs
        m["lsh.pairs_per_doc"] = _median(x["pairs"] / x["n_docs"] for x in p)
        m["lsh.capped_keys"] = _median(x["capped"] for x in p)
        m["verify.keep_ratio"] = _median(x["kept"] / x["pairs"] for x in p
                                         if x["pairs"])
        m["pipeline.bytes_written"] = _median(x["bytes"] for x in p)
        m["cluster.clusters"] = _median(len(c) for c in self.cluster_sizes)
        m["cluster.largest_cluster"] = _median(
            max(c) for c in self.cluster_sizes if c)

        # pipeline bookkeeping: the run spans' self time and own jobs
        run_ids = {s["id"] for s in pick("pipeline", "outer")}
        covered = sum(_dur(s) for s in spans if s["parent"] in run_ids)
        book = pick("pipeline")
        m["pipeline.bookkeeping_s"] = (sum(_dur(s) for s in book)
                                       - covered) / n_w
        m["pipeline.bookkeeping_jobs"] = sum(s["jobs"] for s in book) / n_w

        m.update(self._streaming(n_w))
        m.update(self._kernel())
        self._report(untraced, ops)
        return {k: {"value": float(m.get(k, 0.0)), "unit": u}
                for k, u in PER_LAYER.items()}

    def _streaming(self, n_w: int) -> dict:
        ev = [e for e in self.events if e.get("numInputRows", 0) > 0]
        stateful = [e for e in ev if e.get("stateOperators")]
        stateless = [e for e in ev if not e.get("stateOperators")]
        ops = [o for e in stateful for o in e["stateOperators"]]

        def dur(es, key):
            return sum(e["durationMs"].get(key, 0) for e in es) / 1000 / n_w
        return {
            "streaming.batches": len(ev) / n_w,
            "streaming.sig_stream_s": dur(stateless, "triggerExecution"),
            "streaming.pair_stream_s": dur(stateful, "triggerExecution"),
            "streaming.sink_s": dur(ev, "addBatch"),
            "streaming.state_rows_total": max(
                (o["numRowsTotal"] for o in ops), default=0),
            "streaming.state_rows_updated": sum(
                o["numRowsUpdated"] for o in ops) / n_w,
            "streaming.state_memory_bytes": max(
                (o["memoryUsedBytes"] for o in ops), default=0),
            "streaming.state_commit_s": sum(
                o["commitTimeMs"] for o in ops) / 1000 / n_w,
        }

    def _kernel(self) -> dict:
        spans = self.tracer.spans
        builds = sorted((s for s in spans if s["layer"] == "kernel"
                         and s["kind"] == "build"), key=lambda s: s["start"])
        collects = sorted((s for s in spans if s["layer"] == "kernel"
                           and s["kind"] == "action"),
                          key=lambda s: s["start"])
        if not builds:
            return {}

        def jobs_under(root):
            ids, total = {root["id"]}, 0
            for s in sorted(spans, key=lambda s: s["start"]):
                if s["id"] in ids or s["parent"] in ids:
                    ids.add(s["id"])
                    total += s["jobs"]
            return total
        return {
            "kernel.lookup_build_ms": _median(_dur(s) * 1000 for s in builds),
            "kernel.lookup_collect_ms": _median(_dur(s) * 1000
                                                for s in collects),
            "kernel.lookup_jobs": _median(jobs_under(b) + c["jobs"]
                                          for b, c in zip(builds, collects)),
            "kernel.results": self.results / len(builds),
        }

    def _report(self, untraced: dict | None, ops) -> None:
        def log(msg):
            print(f"perfbench: {msg}", flush=True)
        for layer, own in sorted(self.tracer.self_times().items()):
            log(f"self time {layer}: {own:.3f} s")
        for kind in sorted({op.kind for op in ops}):
            traced = _median(op.wall for op in ops if op.kind == kind)
            base = _median((untraced or {}).get(kind, ()), None)
            if base:
                log(f"tracing overhead on {kind}: {traced / base - 1:+.1%} "
                    f"({traced:.3f} s traced vs {base:.3f} s untraced median)")
            else:
                log(f"tracing overhead on {kind}: no untraced run of this "
                    "code version yet")
