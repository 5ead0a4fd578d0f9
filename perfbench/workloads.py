"""The two benchmark workloads: set-up, one timed pass, and its check.

Both are closed-loop batch jobs: one driver runs one job at a time, and the
next pass starts only when the previous one has returned. All inputs come
from ``gen_transcripts_df`` with the run's seed; the program under test only
ever sees the generated tables.

- ``flagship_job``: ``engine.flagship`` then ``export_fact_db`` into a fresh
  directory, the work ``jobs/run_flagship.py`` does.
- ``graph_kernels``: a corpus-wide edge table derived in set-up, then
  ``pagerank_distributed``, durable ``components_distributed``,
  ``lpa_distributed`` and ``triangles_distributed`` on it.

In a traced run every public call is wrapped in a span named after its
layer (see eventlog.Tracer); untraced runs make the plain calls.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import checks

TURNS_PER_CONV = 30
LPA_MAX_ITER = 5
PR_TOL = 1.0e-6
SAMPLE_CONVS = 6  # flagship conversations checked against the oracle
# fact-DB buckets, scaled to the 100-conversation corpus (the job's default
# of 64 is sized for production corpora; see README.md)
EXPORT_BUCKETS = 8


class Context:
    """What a workload needs from the run: session, seed, scratch space and
    the tracer (None in untraced runs)."""

    def __init__(self, spark, seed: int, work: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.layer: dict[str, float] = {}  # extra per-layer metrics

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


def gen_transcripts(ctx: Context, n_convs: int):
    from deeprank_spark.transcripts import gen_transcripts_df

    t0 = time.time()
    with ctx.span("transcripts"):
        tr = gen_transcripts_df(
            ctx.spark, n_convs=n_convs, turns_per_conv=TURNS_PER_CONV, seed=ctx.seed
        ).localCheckpoint(eager=True)
    ctx.layer["transcripts.gen_s"] = time.time() - t0
    return tr


def traced_digest(ctx: Context, tr, params):
    """``engine.digest(tr, params)``; in a traced run, the same calls in the
    same order with one span per materialised stage: the parse, then the
    edge cascade."""
    from deeprank_spark.engine import Digest, digest
    from deeprank_spark.operators import edges as E
    from deeprank_spark.parse import parse_transcripts

    if ctx.tracer is None:
        return digest(tr, params)
    with ctx.span("parse"):
        parsed = parse_transcripts(tr, backend=params.parser_backend).localCheckpoint(
            eager=True
        )
    with ctx.span("edges"):
        toks = E.tokens_table(parsed)
        w2l = E.w2l_sentence(toks)
        nouns = E.noun_set_table(toks)
        multi = E.multi_edges_table(parsed, nouns, params).localCheckpoint(eager=True)
        ed = E.edges_table(multi)
        ged = E.graph_edges(ed)
        verts = E.vertices_table(ged)
        svo = E.svo_table(parsed, params)
    return Digest(parsed, toks, w2l, nouns, multi, ed, ged, verts, svo)


def graph_edge_table(multi_edges):
    """Corpus-wide (src, dst) table: word vertices shared across
    conversations, sentence vertices per conversation, no self-loops, no
    duplicates."""
    from pyspark.sql import functions as F

    def vid(kind: str, key: str):
        return F.when(
            F.col(kind) == "W", F.xxhash64(F.lit("W"), F.col(key))
        ).otherwise(F.xxhash64(F.col("conv_id"), F.col(key)))

    return (
        multi_edges.select(vid("src_kind", "src").alias("src"), vid("dst_kind", "dst").alias("dst"))
        .where("src != dst")
        .distinct()
    )


def dir_size(path: str) -> tuple[float, int]:
    """(MB, data files) under path; Spark's .crc sidecars are not counted."""
    total, files = 0, 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(base, n))
            files += n.startswith("part-")
    return total / 1e6, files


class FlagshipJob:
    name = "flagship_job"
    n_convs = 100

    def __init__(self, ctx: Context):
        from deeprank_spark.config import CraftParams

        self.ctx = ctx
        self.params = CraftParams()
        if self.params.giant_comp:
            raise RuntimeError("the traced flagship pass assumes giant_comp=False")

    def setup(self) -> None:
        self.tr = gen_transcripts(self.ctx, self.n_convs)

    def run_pass(self, i: int) -> dict:
        from deeprank_spark.engine import flagship, ranks
        from deeprank_spark.operators.extract import keywords, scored_svos, summary
        from deeprank_spark.sources.export import export_fact_db

        ctx, p = self.ctx, self.params
        out_dir = os.path.join(ctx.work, f"facts_{i}")
        if ctx.tracer is None:
            out = flagship(self.tr, p)
            rels = export_fact_db(out["digest"], out["ranks"], out["summary"], out["keywords"],
                                  out_dir, num_buckets=EXPORT_BUCKETS)
            return {"out": out, "rels": rels, "dir": out_dir}
        # traced: flagship()'s calls in its order; its persisted ranks and
        # the two exported extraction frames are materialised in their own
        # span so each layer's work is attributed to that layer
        d = traced_digest(ctx, self.tr, p)
        with ctx.span("pagerank"):
            r = ranks(d, p).persist()
            r.count()
        with ctx.span("extract"):
            kw = keywords(r, d.noun_set, params=p).persist()
            kw.count()
            summ = summary(r, d.parsed, params=p).orderBy("conv_id", "turn_idx").persist()
            summ.count()
            rel = scored_svos(d.svo, r, params=p)
        with ctx.span("export"):
            rels = export_fact_db(d, r, summ, kw, out_dir, num_buckets=EXPORT_BUCKETS)
        out = {"keywords": kw, "summary": summ, "relations": rel, "ranks": r, "digest": d}
        return {"out": out, "rels": rels, "dir": out_dir}

    def check(self, res: dict) -> dict[str, list[str]]:
        """The pass's failures (an empty list when its output is right).

        Row counts of the fact DB as written (read back with pyarrow) must
        equal the returned frames', and a fixed sample of conversations
        must match the oracle. The Spark actions run concurrently: the
        check sits outside the timed window but inside the run's budget."""
        import pyarrow.dataset as pads
        from pyspark.sql import functions as F

        rng = random.Random(self.ctx.seed)
        sample = ["c%08d" % c for c in [0] + rng.sample(range(1, self.n_convs), SAMPLE_CONVS - 1)]
        pick = F.col("conv_id").isin(sample)
        out = res["out"]
        actions = {f"count:{name}": df.count for name, df in res["rels"].items()}
        for k in ("keywords", "summary", "relations"):
            actions[k] = out[k].where(pick).collect
        actions["transcripts"] = self.tr.where(pick).select("conv_id", "turn_idx", "text").toPandas
        with ThreadPoolExecutor(max_workers=len(actions)) as pool:
            futures = {k: pool.submit(fn) for k, fn in actions.items()}
            got = {k: f.result() for k, f in futures.items()}

        bad = []
        for name in res["rels"]:
            path = os.path.join(res["dir"], name)
            on_disk = pads.dataset(path, format="parquet", partitioning="hive").count_rows()
            if on_disk != got[f"count:{name}"]:
                bad.append(f"fact db {name}: {on_disk} rows on disk, {got[f'count:{name}']} returned")
        rows = {k: got[k] for k in ("keywords", "summary", "relations")}
        bad += checks.flagship_mismatches(rows, got["transcripts"], self.params)
        return {"pass": bad}

    def summary(self) -> dict:
        return {}

    def trace_extras(self, res: dict) -> None:
        multi = res["out"]["digest"].multi_edges
        m = multi.count()
        self.ctx.layer["edges.multi_edges"] = m
        self.ctx.layer["edges.distinct_ratio"] = graph_edge_table(multi).count() / m
        self.ctx.layer["export.files"] = dir_size(res["dir"])[1]


class GraphKernels:
    name = "graph_kernels"
    n_convs = 100

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.graph = None  # numpy copy of the edge table, built for checks
        self.passes = []

    def setup(self) -> None:
        """Derive the edge table from the transcripts and read it back from
        parquet. The calls are those ``engine.digest`` makes for its
        ``multi_edges`` in "batch" mode, the mode meant for one consumer:
        the parse is materialised and the edge cascade fuses into the
        write."""
        from deeprank_spark.config import CraftParams
        from deeprank_spark.operators import edges as E
        from deeprank_spark.parse import parse_transcripts

        ctx, p = self.ctx, CraftParams()
        tr = gen_transcripts(ctx, self.n_convs)
        with ctx.span("parse"):
            parsed = parse_transcripts(tr, backend=p.parser_backend).localCheckpoint(eager=True)
        path = os.path.join(ctx.work, "edges.parquet")
        with ctx.span("edges"):
            self.multi = E.multi_edges_table(parsed, E.noun_set_table(E.tokens_table(parsed)), p)
            graph_edge_table(self.multi).write.parquet(path)
        self.edges = ctx.spark.read.parquet(path).cache()
        self.n_edges = self.edges.count()

    def run_pass(self, i: int) -> dict:
        from deeprank_spark.operators.components import components_distributed
        from deeprank_spark.operators.labelprop import lpa_distributed
        from deeprank_spark.operators.pagerank import pagerank_distributed
        from deeprank_spark.operators.triangles import triangles_distributed

        ctx, e = self.ctx, self.edges
        ckpt = os.path.join(ctx.work, f"ckpt_{i}")
        res = {"ckpt": ckpt, "secs": {}}

        def timed(layer, fn):
            t0 = time.time()
            with ctx.span(layer):
                out = fn()
            res["secs"][layer] = time.time() - t0
            return out

        def pagerank():
            run = pagerank_distributed(e, tol=PR_TOL)
            return run, run.ranks.toPandas()

        def components():
            run = components_distributed(
                e, checkpoint_dir=ckpt, run_id="cc", checkpoint_interval=1, return_run=True
            )
            return run, run.labels.toPandas()

        def labelprop():
            run = lpa_distributed(e, max_iter=LPA_MAX_ITER, return_run=True)
            return run, run.labels.toPandas()

        res["pagerank"] = timed("pagerank", pagerank)
        res["components"] = timed("components", components)
        res["labelprop"] = timed("labelprop", labelprop)
        res["triangles"] = timed("triangles", lambda: triangles_distributed(e).toPandas())
        return res

    def _numpy_graph(self) -> checks.Graph:
        if self.graph is None:
            pdf = self.edges.toPandas()
            self.graph = checks.Graph(pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64))
        return self.graph

    def check(self, res: dict) -> dict[str, list[str]]:
        """Failures per kernel call (an empty list when its output is right)."""
        from tools.lineage_audit import audit

        g = self._numpy_graph()
        bad = {k: [] for k in ("pagerank", "components", "labelprop", "triangles")}
        t0 = time.time()
        x, _ = checks.pagerank(g, tol=PR_TOL)
        t1 = time.time()
        cc = checks.components(g)
        t2 = time.time()
        lp, _ = checks.labelprop(g, LPA_MAX_ITER)
        t3 = time.time()
        tri = checks.triangles(g)
        t4 = time.time()
        self.numpy_s = {"pagerank": t1 - t0, "components": t2 - t1,
                        "labelprop": t3 - t2, "triangles": t4 - t3}

        def spark_values(pdf, col):
            return checks.by_id(g, pdf["id"].to_numpy(np.int64), pdf[col].to_numpy())

        got = spark_values(res["pagerank"][1], "rank")
        if not np.allclose(got, x, rtol=0.0, atol=PR_TOL):
            bad["pagerank"].append(f"max |diff| {np.abs(got - x).max():.3g}")
        if not np.array_equal(spark_values(res["components"][1], "component"), g.ids[cc]):
            bad["components"].append("labels differ")
        report = audit(self.ctx.spark, res["ckpt"], "cc")
        if not report["ok"]:
            bad["components"].append(f"lineage audit {report['errors']}")
        if not np.array_equal(spark_values(res["labelprop"][1], "label"), g.ids[lp]):
            bad["labelprop"].append("labels differ")
        if not np.array_equal(spark_values(res["triangles"], "tri_count"), tri):
            bad["triangles"].append("counts differ")
        self.passes.append(res)
        return bad

    def summary(self) -> dict:
        """Per-kernel time to a checked solution, median over passes."""
        g = self._numpy_graph()
        out = {"edges": self.n_edges, "vertices": g.n,
               "max_in_degree": int(np.bincount(g.dst).max())}
        for k in ("pagerank", "components", "labelprop", "triangles"):
            out[f"{k}_s"] = statistics.median(r["secs"][k] for r in self.passes)
        out["pagerank_supersteps_per_s"] = statistics.median(
            r["pagerank"][0].supersteps / r["secs"]["pagerank"] for r in self.passes
        )
        return out

    def trace_extras(self, res: dict) -> None:
        layer = self.ctx.layer
        layer["edges.multi_edges"] = m = self.multi.count()
        layer["edges.distinct_ratio"] = self.n_edges / m
        layer["pagerank.supersteps"] = res["pagerank"][0].supersteps
        layer["components.rounds"] = res["components"][0].rounds
        layer["labelprop.rounds"] = res["labelprop"][0].rounds
        layer["superstep.ckpt_mb"], layer["superstep.ckpt_files"] = dir_size(res["ckpt"])
        for k, spark_s in res["secs"].items():
            layer[f"{k}.roofline_ratio"] = spark_s / self.numpy_s[k]


WORKLOADS = {w.name: w for w in (FlagshipJob, GraphKernels)}
