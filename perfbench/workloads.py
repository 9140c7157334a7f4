"""The benchmark's workloads. Each calls the package's public functions
from outside, with inputs made from the run's seed:

- ``kg_build``: a fresh ``run_pipeline`` over a staged synthetic corpus;
  triples are checked against ``oracle.run_oracle``.
- ``kg_enrich``: ``run_pipeline(resume=True, near_dup="minhash",
  host_graph=True)`` over a workdir that already holds the base
  snapshots, reset before every operation.
- ``kg_fold``: ``stream_kg_fold`` over documents files, one micro-batch
  per file, into a fresh state dir and checkpoint per operation.
- ``kg_graph``: the distributed fixpoints over the KG edge table built
  in setup.

A workload's ``setup`` stages inputs and runs the operation once
untimed (the warm-up, and the reference for digests); ``op`` is the
timed call; ``check`` compares its outputs (untimed); ``layers`` turns
one traced operation's spans and status-store figures into per-layer
metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from typing import Callable, Dict, List, Tuple

from pyspark.sql import functions as F

from . import hostproc
from .tracing import covered, merge, task_skew

SIZES = {
    "default": {
        "build_pages": 1000, "enrich_pages": 1000, "graph_pages": 1000,
        "fold_files": 4, "fold_docs": 250, "stagings": 2, "warm_ops": 3,
    },
    # the smoke test's size: every code path, seconds per operation
    "tiny": {
        "build_pages": 150, "enrich_pages": 150, "graph_pages": 150,
        "fold_files": 2, "fold_docs": 40, "stagings": 2, "warm_ops": 1,
    },
}

# pipeline operators traced as the build part of a stage; the stage's
# snapshot write is traced by the SnapshotStore.write wrapper
_PLAN_FUNCS = {
    "surfactant_spark.plans.pipeline": {
        "extract_pages": "extract", "alias_entity_map": "alias_cc",
        "dedup_nodes": "nodes", "exporters_table": "edges", "link_extracted": "edges",
    },
    "surfactant_spark.operators.dedup": {
        "dedup_minhash_with_audit": "near_dup", "near_dup_clusters": "clusters",
    },
    "surfactant_spark.operators.webgraph": {"host_graph": "hostgraph"},
}
STAGES = ("extract", "alias_cc", "nodes", "edges", "near_dup", "audit", "clusters", "hostgraph")
GRAPH_ALGOS = ("cc", "pagerank", "kcore", "bowtie", "lpa")


def install_tracing(tracer) -> None:
    """Wrap the public calls a workload makes so each opens a span. Only
    traced runs install these; untraced runs execute the package as is."""
    import importlib

    from surfactant_spark.operators import incremental
    from surfactant_spark.plans.pipeline import SnapshotStore

    def wrap(fn: Callable, name: str, on_extract: bool = False) -> Callable:
        def traced(*a, **kw):
            with tracer.span(name) as sp:
                w0 = hostproc.python_worker_cpu_s() if sp and on_extract else None
                try:
                    return fn(*a, **kw)
                finally:
                    if w0 is not None:
                        sp.attrs["pyworker_cpu_s"] = hostproc.python_worker_cpu_s() - w0
        traced.__wrapped__ = fn
        return traced

    for mod_name, funcs in _PLAN_FUNCS.items():
        mod = importlib.import_module(mod_name)
        for fn_name, stage in funcs.items():
            setattr(mod, fn_name, wrap(getattr(mod, fn_name), f"plan:{stage}"))

    write, read = SnapshotStore.write, SnapshotStore.read

    def traced_write(self, stage, *a, **kw):
        return wrap(write, f"write:{stage}", on_extract=stage == "extract")(self, stage, *a, **kw)

    def traced_read(self, stage):
        return wrap(read, f"read:{stage}")(self, stage)

    SnapshotStore.write, SnapshotStore.read = traced_write, traced_read
    incremental.kg_state_build = wrap(incremental.kg_state_build, "fold.build")
    incremental.kg_state_fold = wrap(incremental.kg_state_fold, "fold.fold")


def digest(df) -> Tuple[int, int]:
    """Order-independent (row count, sum of row hashes)."""
    row = df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return int(row.n), int(row.s or 0)


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    docs = 0      # input pages or documents per operation
    triples = 0   # KG triples the operation produces or covers

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.size = SIZES[ctx.size]
        self.setup_parts: Dict[str, float] = {}
        self.untimed: Dict[str, float] = {}

    def _dir(self, *parts) -> str:
        return os.path.join(self.ctx.work, *parts)

    def stage_pages(self, n_pages: int):
        """Synthesize and stage the corpus ``stagings`` times, each into
        a fresh directory; setup time counts the median staging."""
        from surfactant_spark.synth import synth_pages_distributed

        times = []
        for k in range(self.size["stagings"]):
            t0 = time.perf_counter()
            pages, alias_pdf = synth_pages_distributed(self.spark, n_pages, seed=self.ctx.seed)
            path = self._dir(f"pages{k}")
            pages.write.mode("overwrite").parquet(path)
            times.append(time.perf_counter() - t0)
        self.setup_parts["synth.gen_s"] = _med(times)
        self.untimed["synth.stagings_s"] = sum(times) - _med(times)
        self.staged_bytes = hostproc.du_bytes(path)
        return self.spark.read.parquet(path), alias_pdf

    def warm(self, fn: Callable):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts["warm_s"] = self.setup_parts.get("warm_s", 0.0) + time.perf_counter() - t0
        return out

    def warm_up(self, times: int) -> None:
        """Run the operation ``times`` times untimed, so that the JIT and
        Spark's code generation have settled before timing. The first
        output is the reference for later checks; every output is checked."""
        for k in range(times):
            self.reset()
            out = self.warm(self.op)
            if k == 0:
                self.reference(out)
            errs = self.check(out)
            if errs:
                raise RuntimeError(f"{self.name}: warm-up operation failed its check: {errs}")

    def reference(self, out) -> None:
        """Keep what later checks compare against from the first output."""

    def reset(self) -> None:
        """Untimed preparation before each operation."""

    def batches_ms(self, wall_s: float, out) -> List[float]:
        """Latency of each unit the caller waited for in this operation."""
        return [wall_s * 1e3]

    def setup(self) -> None:
        raise NotImplementedError

    def op(self):
        raise NotImplementedError

    def check(self, out) -> List[str]:
        raise NotImplementedError

    def layers(self, spans, groups, out) -> Dict[str, float]:
        return {}


# ------------------------------------------------------------ pipeline


class _Pipeline(Workload):
    def _run(self, workdir: str, **kw):
        from surfactant_spark.plans.pipeline import run_pipeline

        with self.ctx.tracer.span("run_pipeline", adopt=True):
            return run_pipeline(self.spark, self.pages, self.alias, workdir, **kw)

    def layers(self, spans, groups, out) -> Dict[str, float]:
        by_name: Dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)
        run = by_name["run_pipeline"][0]
        m: Dict[str, float] = {}
        stage_iv = {}
        for st in STAGES:
            parts = by_name.get(f"plan:{st}", []) + by_name.get(f"write:{st}", [])
            if not parts:
                continue
            stage_iv[st] = (min(p.start for p in parts), max(p.end for p in parts))
            m[f"{st}.wall_s"] = covered([(p.start, p.end) for p in parts])
            g = merge(groups[p.group] for p in parts if p.group in groups)
            m[f"{st}.shuffle_bytes"] = g["shuffle_read_bytes"] + g["shuffle_write_bytes"]
            m[f"{st}.spill_bytes"] = g["spill_bytes"]
            m[f"{st}.task_cpu_s"] = g["task_cpu_s"]
            m[f"{st}.task_skew"] = task_skew(g)
        stage_spans = [s for s in spans if s.name.startswith(("plan:", "write:"))]
        m["pipeline.self_s"] = run.dur - covered([(s.start, s.end) for s in stage_spans])
        m["pipeline.jobs"] = sum(g["jobs"] for g in groups.values())
        m["pipeline.snapshot_bytes"] = hostproc.du_bytes(self.workdir)
        m["pipeline.resume_read_s"] = sum(
            s.dur for st in out.stages_resumed for s in by_name.get(f"read:{st}", [])
        )
        writes = [s.end for s in spans if s.name.startswith("write:")]
        m["pipeline.lineage_s"] = run.end - max(writes) if writes else 0.0
        if "extract" in stage_iv:
            ext = by_name["write:extract"][0]
            m["extract.pyworker_cpu_s"] = ext.attrs.get("pyworker_cpu_s", 0.0)
            m["extract.rows_per_s"] = self.docs / m["extract.wall_s"]
        if "alias_cc" in stage_iv and "extract" in stage_iv:
            (a0, a1), (e0, e1) = stage_iv["alias_cc"], stage_iv["extract"]
            m["alias_cc.exposed_s"] = (a1 - a0) - max(0.0, min(a1, e1) - max(a0, e0))
        if out.stage_rows.get("near_dup") is not None:
            m["near_dup.pairs"] = out.stage_rows["near_dup"]
            m["audit.dropped_buckets"] = out.stage_rows["audit"]
        return m


class KgBuild(_Pipeline):
    name = "kg_build"

    def setup(self) -> None:
        from surfactant_spark.oracle import run_oracle
        from surfactant_spark.synth import alias_dict_to_spark

        self.docs = self.size["build_pages"]
        self.pages, alias_pdf = self.stage_pages(self.docs)
        self.alias = alias_dict_to_spark(self.spark, alias_pdf)
        # the oracle runs once per seed and stays out of setup_s
        t0 = time.perf_counter()
        onodes, oedges, _ = run_oracle(self.pages.toPandas(), alias_pdf)
        self.want_edges = {
            (e.subj_uuid, e.pred, e.obj_uuid): int(e.n_evidence) for e in oedges.itertuples()
        }
        self.want_nodes = len(onodes)
        self.untimed["oracle_s"] = time.perf_counter() - t0
        self.triples = len(self.want_edges)
        self.n = 0
        self.warm_up(self.size["warm_ops"])

    def reset(self) -> None:
        self.n += 1
        if hasattr(self, "workdir"):
            shutil.rmtree(self.workdir, ignore_errors=True)
        self.workdir = self._dir(f"build{self.n}")

    def op(self):
        return self._run(self.workdir, resume=False)

    def check(self, out) -> List[str]:
        errs = []
        got = {
            (r.subj_uuid, r.pred, r.obj_uuid): int(r.n_evidence)
            for r in out.edges.select("subj_uuid", "pred", "obj_uuid", "n_evidence").collect()
        }
        if got != self.want_edges:
            missing = len(self.want_edges.keys() - got.keys())
            extra = len(got.keys() - self.want_edges.keys())
            errs.append(f"edges differ from the oracle: {missing} missing, {extra} extra, "
                        f"{len(got)} vs {len(self.want_edges)}")
        n_nodes = out.stage_rows.get("nodes")
        if n_nodes != self.want_nodes:
            errs.append(f"nodes {n_nodes} != oracle {self.want_nodes}")
        return errs


class KgEnrich(_Pipeline):
    name = "kg_enrich"
    BASE = ("extract", "alias_cc", "nodes", "edges")
    ENRICH = ("near_dup", "audit", "clusters", "hostgraph")

    def setup(self) -> None:
        from surfactant_spark.synth import alias_dict_to_spark

        self.docs = self.size["enrich_pages"]
        self.pages, alias_pdf = self.stage_pages(self.docs)
        self.alias = alias_dict_to_spark(self.spark, alias_pdf)
        self.base = self._dir("base")
        base = self.warm(lambda: self._run(self.base, resume=False))
        self.triples = base.stage_rows["edges"]
        self.workdir = self._dir("enrich")
        # the base build warms the shared pipeline paths: one warm-up fewer
        self.warm_up(max(1, self.size["warm_ops"] - 1))

    def reference(self, out) -> None:
        self.want = self._digests(out)

    def reset(self) -> None:
        shutil.rmtree(self.workdir, ignore_errors=True)
        shutil.copytree(self.base, self.workdir)

    def op(self):
        return self._run(self.workdir, resume=True, near_dup="minhash", host_graph=True)

    def _digests(self, out) -> dict:
        return {
            # alias_cc resumes on its own thread, so its place in the list varies
            "resumed": tuple(sorted(out.stages_resumed)), "run": tuple(out.stages_run),
            "rows": {k: out.stage_rows.get(k) for k in self.ENRICH},
            "near_dup": digest(out.near_dup), "audit": digest(out.audit),
            "clusters": digest(out.clusters), "hostgraph": digest(out.host_edges),
        }

    def check(self, out) -> List[str]:
        got = self._digests(out)
        errs = [f"{k}: {got[k]} != first run {v}" for k, v in self.want.items() if got[k] != v]
        if got["resumed"] != tuple(sorted(self.BASE)):
            errs.append(f"resumed {got['resumed']}, expected {self.BASE}")
        return errs


# ------------------------------------------------------------ streaming fold


class KgFold(Workload):
    name = "kg_fold"

    def setup(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from surfactant_spark.operators.incremental import edges_surface, kg_state_build

        n_files, per = self.size["fold_files"], self.size["fold_docs"]
        self.docs = n_files * per
        pages, _ = self.stage_pages(self.docs)
        docs = pages.select(
            F.regexp_extract("url", r"/p/(\d+)\.html$", 1).cast("long").alias("doc_id"),
            F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("source"),
            "text",
        )
        self.src = self._dir("docs")
        t0 = time.perf_counter()
        # one file per micro-batch, appended in doc_id order: the stream
        # source takes files oldest first, and folds need increasing ids
        for b in range(n_files):
            docs.where((F.col("doc_id") >= b * per) & (F.col("doc_id") < (b + 1) * per)) \
                .coalesce(1).write.mode("append").parquet(self.src)
        self.setup_parts["fold.stage_files_s"] = time.perf_counter() - t0
        self.src_bytes = hostproc.du_bytes(self.src)
        self.n_files = n_files
        t0 = time.perf_counter()
        full = self.spark.read.parquet(self.src)
        self.want = set(map(tuple, edges_surface(kg_state_build(full)).collect()))
        self.untimed["reference_s"] = time.perf_counter() - t0
        self.triples = len(self.want)

        progress: List[dict] = []

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({"id": str(p.id), "batch": p.batchId,
                                 "rows": p.numInputRows, "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.progress = progress
        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)
        self.n = 0
        self.warm_up(self.size["warm_ops"])

    def reset(self) -> None:
        self.n += 1
        for d in ("state", "ckpt"):
            shutil.rmtree(self._dir(f"{d}{self.n - 1}"), ignore_errors=True)
        self.state, self.ckpt = self._dir(f"state{self.n}"), self._dir(f"ckpt{self.n}")
        del self.progress[:]

    def op(self):
        from surfactant_spark.streaming.incremental import stream_kg_fold

        with self.ctx.tracer.span("stream_kg_fold", adopt=True):
            return stream_kg_fold(self.spark, self.src, self.state, self.ckpt,
                                  max_files_per_trigger=1)

    def _batches(self) -> List[dict]:
        """This operation's data batches, waiting briefly for listener
        events, which arrive asynchronously."""
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            got = [p for p in self.progress if p["rows"] > 0]
            if len(got) >= self.n_files:
                return sorted(got, key=lambda p: p["batch"])
            time.sleep(0.02)
        return sorted((p for p in self.progress if p["rows"] > 0), key=lambda p: p["batch"])

    def batches_ms(self, wall_s: float, out) -> List[float]:
        return [float(p["ms"].get("triggerExecution", 0)) for p in self._batches()]

    def check(self, out) -> List[str]:
        from surfactant_spark.operators.incremental import edges_surface

        errs = []
        n = len(self._batches())
        if n != self.n_files:
            errs.append(f"{n} micro-batches reported, expected {self.n_files}")
        got = set(map(tuple, edges_surface(out).collect())) if out is not None else set()
        if got != self.want:
            errs.append(f"fold edges differ from kg_state_build: {len(self.want - got)} missing, "
                        f"{len(got - self.want)} extra")
        return errs

    def layers(self, spans, groups, out) -> Dict[str, float]:
        bs = self._batches()
        trig = [float(p["ms"].get("triggerExecution", 0)) for p in bs]
        add = [float(p["ms"].get("addBatch", 0)) for p in bs]
        q = max(1, len(trig) // 4)
        early = _med(trig[:q])
        return {
            "fold.build_s": _med([s.dur for s in spans if s.name == "fold.build"]),
            "fold.fold_s": _med([s.dur for s in spans if s.name == "fold.fold"]),
            "stream.add_batch_ms": _med(add),
            "stream.overhead_ms": _med([t - a for t, a in zip(trig, add)]),
            "stream.jobs_per_batch": sum(g["jobs"] for g in groups.values()) / max(1, len(bs)),
            "stream.state_bytes_per_input_byte": hostproc.du_bytes(self.state) / self.src_bytes,
            "stream.late_vs_early": _med(trig[-q:]) / early if early else 0.0,
        }


# ------------------------------------------------------------ graph fixpoints


class KgGraph(Workload):
    name = "kg_graph"
    PAGERANK_ITERS = 10

    def setup(self) -> None:
        from surfactant_spark.operators.canon import connected_components_auto
        from surfactant_spark.operators.graphrank import pagerank_auto
        from surfactant_spark.plans.pipeline import run_pipeline
        from surfactant_spark.synth import alias_dict_to_spark

        self.docs = self.size["graph_pages"]
        pages, alias_pdf = self.stage_pages(self.docs)
        wd = self._dir("kg")
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, pages, alias_dict_to_spark(self.spark, alias_pdf), wd)
        self.setup_parts["graph.build_kg_s"] = time.perf_counter() - t0
        self.edges = self.spark.read.parquet(os.path.join(wd, "edges")).select(
            F.col("subj_uuid").alias("src"), F.col("obj_uuid").alias("dst")
        )
        self.triples = res.stage_rows["edges"]
        # the driver paths: *_auto with the threshold above the edge count
        t0 = time.perf_counter()
        above = self.triples + 1
        self.want_cc = {tuple(r) for r in connected_components_auto(
            self.edges, small_threshold=above).collect()}
        self.want_pr = {tuple(r) for r in pagerank_auto(
            self.edges, iters=self.PAGERANK_ITERS, small_threshold=above).collect()}
        self.untimed["reference_s"] = time.perf_counter() - t0
        self.warm_up(self.size["warm_ops"])

    def reference(self, out) -> None:
        self.want = out

    def op(self) -> dict:
        from surfactant_spark.operators.canon import connected_components
        from surfactant_spark.operators.graphrank import (
            bowtie_structure, kcore, label_propagation, pagerank_fixed,
        )

        tracer, e, out = self.ctx.tracer, self.edges, {}
        with tracer.span("graph.cc"):
            out["cc"] = {tuple(r) for r in connected_components(e).collect()}
        with tracer.span("graph.pagerank"):
            out["pagerank"] = {tuple(r) for r in pagerank_fixed(e, iters=self.PAGERANK_ITERS).collect()}
        with tracer.span("graph.kcore"):
            out["kcore"] = digest(kcore(e))
        with tracer.span("graph.bowtie"):
            out["bowtie"] = digest(bowtie_structure(e))
        with tracer.span("graph.lpa"):
            out["lpa"] = digest(label_propagation(e))
        return out

    def check(self, out) -> List[str]:
        errs = []
        if out["cc"] != self.want_cc:
            errs.append("connected_components differs from the driver union-find")
        if out["pagerank"] != self.want_pr:
            errs.append("pagerank_fixed differs from the driver recurrence")
        errs += [f"{k}: {out[k]} != first run {self.want[k]}"
                 for k in ("kcore", "bowtie", "lpa") if out[k] != self.want[k]]
        return errs

    def layers(self, spans, groups, out) -> Dict[str, float]:
        m = {}
        for algo in GRAPH_ALGOS:
            sp = [s for s in spans if s.name == f"graph.{algo}"]
            m[f"graph.{algo}.wall_s"] = sum(s.dur for s in sp)
            m[f"graph.{algo}.jobs"] = sum(groups[s.group]["jobs"] for s in sp if s.group in groups)
        return m


WORKLOADS = {w.name: w for w in (KgBuild, KgEnrich, KgFold, KgGraph)}
