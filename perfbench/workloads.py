"""The benchmark workloads: seeded inputs, the timed pass, the correctness
checks and the per-layer ladder of each (and the resume of the ingest).

A pass is one call sequence into the engine on one input set. Every pass
of a run gets a fresh input set (sub-seed ``[seed, k]``), so no pass can
reuse blocks an earlier pass persisted; the resumes of the checkpointed
ingest repeat the first input set on purpose.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np

import gen
import reference


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _step(tracer, times: dict, name: str, fn) -> None:
    """One ladder step: ``fn()`` as a span with its own Spark job group."""
    with tracer.span(name, group=name):
        fn()
    times[name] = tracer.seconds(name)


def _polygons(vertices: dict) -> dict:
    """Kernel polygons parsed from the generated S2TextFormat loops."""
    from s2_geometry_library_java_spark.kernel import region as rg

    return {pid: rg.Polygon.from_text(gen.polygon_text(v)) for pid, v in vertices.items()}


class Workload:
    """Interface shared by the workloads; ``ops`` names the timed calls of
    one pass in order (each is one attempted operation)."""

    name = ""
    ops: tuple[str, ...] = ()
    params: dict = {}
    #: passes write checkpoints that a resume can skip
    checkpointed = False

    def make_input(self, rng: np.random.Generator, path: str) -> dict:
        raise NotImplementedError

    def run_pass(self, spark, inp: dict, call, tag: str) -> dict:
        """Run ``self.ops`` in order; returns each op's collected result."""
        raise NotImplementedError

    def check(self, spark, inp: dict, res: dict) -> dict[str, list[str]]:
        raise NotImplementedError

    def corrupt(self, res: dict) -> dict:
        """A copy of ``res`` with one deliberate error per checked output."""
        raise NotImplementedError

    def rows(self, inp: dict) -> int:
        raise NotImplementedError

    def ladder(self, spark, fresh, tracer) -> dict:
        """Per-layer steps on fresh input sets (``fresh()`` makes one)."""
        raise NotImplementedError


# -- ingest_uniform --------------------------------------------------------

class IngestUniform(Workload):
    """Flagship batch path: documents -> spans -> image points -> level-12
    tiles -> PIP against the 6 fixed quads -> per tile x polygon rollup, as
    three checkpointed stages (the only workload that writes)."""

    name = "ingest_uniform"
    ops = ("pipeline.spans", "pipeline.tiles", "pipeline.rollup")
    checkpointed = True
    params = {"n_docs": 20000, "words_per_doc": 60, "vocab_size": 4000, "tile_level": 12,
              "polygons": "queries.pip_polygons (6 fixed quads)"}

    def make_input(self, rng, path):
        p = self.params
        docs = gen.uniform_documents(rng, p["n_docs"], p["words_per_doc"], p["vocab_size"])
        sizes = {"documents": gen.write_table(os.path.join(path, "documents"), docs, parts=4)}
        return {"path": path, "doc_id": docs["doc_id"], "sizes": sizes}

    def rows(self, inp):
        return len(inp["doc_id"])

    @staticmethod
    def quads():
        from s2_geometry_library_java_spark import queries as q

        verts = {
            pid: np.array([(a - h, b - h), (a - h, b + h), (a + h, b + h), (a + h, b - h)])
            for pid, (a, b, h) in q.PIP_QUADS.items()
        }
        return q.pip_polygons(), verts

    def frames(self, spark, docs_path):
        """The flagship's cumulative plan prefixes (scan, spans, tiles,
        PIP-joined tiles, rollup) as functions of their input frame."""
        from pyspark.sql import functions as F

        from s2_geometry_library_java_spark.operators import pip, tiling
        from s2_geometry_library_java_spark.sources import docs as docsrc

        polygons, _ = self.quads()
        level = self.params["tile_level"]

        def scan():
            return spark.read.parquet(docs_path).select("doc_id", "text")

        def spans(docs):
            return docsrc.geotagged_media_spans(docsrc.with_spans(docs))

        def tiled(sp):
            return tiling.tile_points(sp, level=level)

        def joined(t):
            keyed = t.withColumn("span_key", F.concat_ws("_", "doc_id", "offset"))
            hits = pip.pip_join(
                spark, keyed.select("span_key", "lat", "lng", "leaf"), polygons,
                point_id="span_key", leaf_col="leaf",
            ).withColumnRenamed("point_id", "span_key")
            return keyed.join(hits, "span_key", "left").select("doc_id", "offset", "tile", "polygon_id")

        def rollup(j):
            return j.groupBy("tile", "polygon_id").agg(
                F.count("*").alias("n_spans"), F.countDistinct("doc_id").alias("n_docs")
            )

        return scan, spans, tiled, joined, rollup

    def _pipeline(self, spark, inp, call, root):
        from s2_geometry_library_java_spark.pipeline.runner import CheckpointedPipeline

        scan, spans, tiled, joined, rollup = self.frames(spark, os.path.join(inp["path"], "documents"))
        pipe = CheckpointedPipeline(spark, root)
        fp = inp["path"]
        s = call("pipeline.spans", lambda: pipe.stage("spans", lambda: spans(scan()), fp))
        t = call("pipeline.tiles", lambda: pipe.stage("tiles", lambda: joined(tiled(s)), fp + "|tiles"))
        call("pipeline.rollup", lambda: pipe.stage("rollup", lambda: rollup(t), fp + "|rollup"))
        return {"root": root}

    def run_pass(self, spark, inp, call, tag):
        root = os.path.join(inp["path"], f"ckpt-{tag}")
        return self._pipeline(spark, inp, call, root)

    def prepare_resume(self, spark, first):
        """Crash before the final commit: keep the first pass's rollup
        rows, then drop the rollup stage's _SUCCESS marker."""
        if "rows" not in first:
            first["rows"] = self.rollup_rows(spark, first)
        os.remove(os.path.join(first["root"], "rollup", "_SUCCESS"))

    def resume(self, spark, inp, first, call):
        """The two committed stages must be skipped and only the rollup
        recomputed, with the same rows as the first pass."""
        res = self._pipeline(spark, inp, call, first["root"])
        res["digest"] = reference.rows_digest(first["rows"])
        return res

    @staticmethod
    def rollup_rows(spark, res):
        return [tuple(r) for r in spark.read.parquet(os.path.join(res["root"], "rollup")).collect()]

    def check(self, spark, inp, res):
        rows = res.get("rows")
        if rows is None:
            rows = res["rows"] = self.rollup_rows(spark, res)
        if "expected" not in inp:
            polygons, verts = self.quads()
            ids, lat, lng = gen.image_span_points(inp["doc_id"])
            pairs = reference.pip_pairs(lat, lng, np.arange(len(ids)), polygons, verts)
            inp["expected"] = Counter(pid for _, pid in pairs)
            inp["expected"][None] = len(ids) - len({i for i, _ in pairs})
        expected = inp["expected"]
        totals = Counter()
        for _, pid, n_spans, _ in rows:
            totals[pid] += int(n_spans)
        fails = reference.check_rollup(totals, expected)
        if "digest" in res and res["digest"] != reference.rows_digest(rows):
            fails.append("resume: rollup differs from the first pass")
        return {"pipeline.rollup": fails}

    def corrupt(self, res):
        rows = list(res["rows"])
        tile, pid, n, d = rows[0]
        rows[0] = (tile, pid, n + 1, d)
        return dict(res, rows=rows)

    def ladder(self, spark, fresh, tracer):
        inp = fresh()
        scan, spans, tiled, joined, rollup = self.frames(spark, os.path.join(inp["path"], "documents"))
        chain = [("functions.scan", scan), ("sources.spans", spans), ("operators.tile_points", tiled),
                 ("operators.pip_join", joined), ("spark.rollup", rollup)]
        t, df = {}, None
        for name, frame in chain:
            df = frame() if df is None else frame(df)
            _step(tracer, t, name, lambda: _noop(df))
        names = [n for n, _ in chain]
        self_s = {names[0]: t[names[0]]}
        for prev, cur in zip(names, names[1:]):
            self_s[cur] = t[cur] - t[prev]
        n_docs = len(inp["doc_id"])
        n_spans = int(np.sum((4 + inp["doc_id"] % 5) // 3))
        polygons, verts = self.quads()
        _, lat, lng = gen.image_span_points(inp["doc_id"])
        return {
            "self_s": self_s,
            "chain_s": t[names[-1]],
            "kernel": (lat, lng, polygons, verts),
            "metrics": {
                "functions.scan_rows_per_s": n_docs / self_s["functions.scan"],
                "sources.spans_rows_per_s": n_spans / self_s["sources.spans"],
                "functions.encode_udf_rows_per_s": n_spans / self_s["operators.tile_points"],
            },
            "encode_rows": n_spans,
            "encode_s": self_s["operators.tile_points"],
        }


# -- join_hotspot ------------------------------------------------------------

class JoinHotspot(Workload):
    """Skewed points (Gaussian metros) x concave polygons near the metros:
    indexed PIP over all points, then kNN (density-seeded levels) and
    closest-edge search for a seeded query sample."""

    name = "join_hotspot"
    ops = ("pip_join_indexed", "density_histogram", "knn_cell_join", "closest_edges")
    params = {"n_points": 10000, "n_metros": 30, "hot_share": 0.8, "n_polygons": 12,
              "vertices": [6, 40], "n_queries": 20, "knn_k": 10, "hist_level": 6,
              "closest_level": 6, "closest_k": 1}

    def make_input(self, rng, path):
        p = self.params
        metros = gen.metros(rng, p["n_metros"])
        lat, lng = gen.hotspot_points(rng, p["n_points"], metros, p["hot_share"])
        polys = gen.star_polygons(rng, p["n_polygons"], metros, *p["vertices"])
        q_lat, q_lng = gen.hotspot_points(rng, p["n_queries"], metros, p["hot_share"])
        ids = np.arange(len(lat), dtype=np.int64)
        q_ids = np.arange(len(q_lat), dtype=np.int64)
        shape_ids = [f"g{i}" for i in range(len(polys))]
        sizes = {
            "points": gen.write_table(os.path.join(path, "points"), {"id": ids, "lat": lat, "lng": lng}, parts=4),
            "shapes": gen.write_table(os.path.join(path, "shapes"), {
                "shape_id": shape_ids, "text": [gen.polygon_text(v) for v in polys]}),
            "queries": gen.write_table(os.path.join(path, "queries"), {
                "query_id": q_ids, "lat": q_lat, "lng": q_lng}),
        }
        return {"path": path, "ids": ids, "lat": lat, "lng": lng, "q_ids": q_ids, "q_lat": q_lat,
                "q_lng": q_lng, "vertices": dict(zip(shape_ids, polys)), "sizes": sizes}

    def rows(self, inp):
        return len(inp["ids"])

    def _tables(self, spark, inp):
        read = lambda t: spark.read.parquet(os.path.join(inp["path"], t))  # noqa: E731
        return read("points"), read("shapes"), read("queries")

    def _calls(self, spark, inp):
        """(op, zero-argument call returning its lazy DataFrame or value)."""
        from pyspark.sql import functions as F

        from s2_geometry_library_java_spark.functions import udfs
        from s2_geometry_library_java_spark.operators import closestedge, knn
        from s2_geometry_library_java_spark.operators import shapes as shape_ops
        from s2_geometry_library_java_spark.plans import density

        p = self.params
        pts, shapes, qs = self._tables(spark, inp)
        state = {}

        def pip():
            return shape_ops.pip_join_indexed(spark, pts, shapes).select("point_id", "polygon_id")

        def hist():
            leaf = udfs.cell_id_from_latlng_deg(F.col("lat"), F.col("lng"), 30)
            state["hist"] = density.density_histogram(pts.withColumn("leaf", leaf), "leaf", p["hist_level"])
            return state["hist"]

        def nn():
            return knn.knn_cell_join(pts, qs, k=p["knn_k"], density_hist=state["hist"],
                                     hist_level=p["hist_level"]).select("query_id", "rank", "neighbor_id")

        def closest():
            index = shape_ops.shape_index_df(shapes, min_level=p["closest_level"])
            return closestedge.closest_edges(index, qs, k=p["closest_k"], level=p["closest_level"]).select(
                "query_id", "shape_id", "edge_id", "chord2")

        return pts, {"pip_join_indexed": pip, "density_histogram": hist, "knn_cell_join": nn,
                     "closest_edges": closest}

    def run_pass(self, spark, inp, call, tag):
        _, calls = self._calls(spark, inp)
        res = {}
        for op in self.ops:
            if op == "density_histogram":
                res[op] = call(op, calls[op])
            else:
                res[op] = call(op, lambda f=calls[op]: [tuple(r) for r in f().collect()])
        return res

    def check(self, spark, inp, res):
        from s2_geometry_library_java_spark.kernel import cellid

        def pip(got):
            return reference.check_pip(got, reference.pip_pairs(
                inp["lat"], inp["lng"], inp["ids"], _polygons(inp["vertices"]), inp["vertices"]))

        def hist(got):
            cells = cellid.latlng_degrees_to_cell_id(inp["lat"], inp["lng"], self.params["hist_level"])
            same = Counter(int(c) for c in cells) == Counter({int(c): int(w) for c, w in got})
            return [] if same else ["density_histogram: cell weights differ"]

        def nn(got):
            return reference.check_knn(got, inp["ids"], inp["lat"], inp["lng"], inp["q_ids"], inp["q_lat"],
                                       inp["q_lng"], self.params["knn_k"])

        def closest(got):
            return reference.check_closest(got, inp["vertices"], inp["q_ids"], inp["q_lat"], inp["q_lng"])

        checks = {"pip_join_indexed": pip, "density_histogram": hist, "knn_cell_join": nn,
                  "closest_edges": closest}
        return {op: checks[op](got) for op, got in res.items()}

    def corrupt(self, res):
        pip = list(res["pip_join_indexed"])[1:]
        (c, w), *hist = res["density_histogram"]
        nn = list(res["knn_cell_join"])
        q, r, n = nn[0]
        nn[0] = (q, r, n + 1 if n + 1 != nn[1][2] else n + 2)
        ce = list(res["closest_edges"])
        q, s, e, d = ce[0]
        ce[0] = (q, s, e, d * 1.5 + 1e-6)
        return {"pip_join_indexed": pip, "density_histogram": [(c, w + 1)] + hist,
                "knn_cell_join": nn, "closest_edges": ce}

    def ladder(self, spark, fresh, tracer):
        from pyspark.sql import functions as F

        from s2_geometry_library_java_spark.functions import udfs

        inp = fresh()
        pts, calls = self._calls(spark, inp)
        t = {}
        _step(tracer, t, "functions.scan", lambda: _noop(pts))
        _step(tracer, t, "functions.encode_udf", lambda: _noop(pts.withColumn(
            "leaf", udfs.cell_id_from_latlng_deg(F.col("lat"), F.col("lng"), 30))))
        _step(tracer, t, "operators.pip_join_indexed", lambda: _noop(calls["pip_join_indexed"]()))
        _step(tracer, t, "plans.density_histogram", calls["density_histogram"])
        _step(tracer, t, "operators.knn_cell_join", lambda: _noop(calls["knn_cell_join"]()))
        _step(tracer, t, "operators.closest_edges", lambda: _noop(calls["closest_edges"]()))
        enc = t["functions.encode_udf"]
        self_s = {
            "functions.scan": t["functions.scan"],
            "functions.encode_udf": enc - t["functions.scan"],
            # both re-scan and re-encode the points; their self time excludes that prefix
            "operators.pip_join_indexed": t["operators.pip_join_indexed"] - enc,
            "plans.density_histogram": t["plans.density_histogram"] - enc,
            "operators.knn_cell_join": t["operators.knn_cell_join"],
            "operators.closest_edges": t["operators.closest_edges"],
        }
        n = len(inp["ids"])
        return {
            "self_s": self_s,
            "chain_s": sum(self_s.values()),
            "kernel": (inp["lat"], inp["lng"], _polygons(inp["vertices"]), inp["vertices"]),
            "metrics": {
                "functions.scan_rows_per_s": n / self_s["functions.scan"],
                "functions.encode_udf_rows_per_s": n / self_s["functions.encode_udf"],
                "plans.density_histogram_s": self_s["plans.density_histogram"],
            },
            "encode_rows": n,
            "encode_s": self_s["functions.encode_udf"],
        }


# -- dedup_dupdense ----------------------------------------------------------

class DedupDupdense(Workload):
    """Near-duplicate families with Zipf sizes and two hot families (hot LSH
    bands): exact dedup and MinHash-LSH clustering, no geo kernel at all."""

    name = "dedup_dupdense"
    ops = ("exact_duplicates", "near_dup_clusters")
    params = {"n_docs": 5000, "hot_family_sizes": [400, 200], "zipf_a": 2.0, "max_family": 200,
              "exact_share": 0.3, "mutate_share": 0.08, "short_share": 0.01, "words": [25, 60],
              "vocab_size": 20000, "lsh": {"n_hashes": 8, "band_rows": 2, "shingle_n": 3}}

    def make_input(self, rng, path):
        p = self.params
        fam = gen.dup_families(rng, p["n_docs"], p["hot_family_sizes"], p["zipf_a"], p["max_family"],
                               p["exact_share"], p["mutate_share"], p["short_share"], tuple(p["words"]),
                               p["vocab_size"])
        sizes = {
            "documents": gen.write_table(os.path.join(path, "documents"),
                                         {"doc_id": fam["doc_id"], "text": fam["text"]}, parts=4),
            # ground truth for the traced true-pair ratio; the engine never reads it
            "families": gen.write_table(os.path.join(path, "families"),
                                        {"doc_id": fam["doc_id"], "family": fam["family"]}),
        }
        return {"path": path, "doc_id": fam["doc_id"], "text": fam["text"], "sizes": sizes,
                "n_short": fam["n_short"], "n_families": fam["n_families"], "max_family": fam["max_family"]}

    def rows(self, inp):
        return len(inp["doc_id"])

    def _docs(self, spark, inp):
        return spark.read.parquet(os.path.join(inp["path"], "documents"))

    def run_pass(self, spark, inp, call, tag):
        from s2_geometry_library_java_spark.operators import dedup

        d = self._docs(spark, inp)
        calls = {
            "exact_duplicates": lambda: dedup.exact_duplicates(d, "doc_id", "text").select(
                "id", "group_size", "canonical_id"),
            "near_dup_clusters": lambda: dedup.near_dup_clusters(d, "doc_id", "text"),
        }
        return {op: call(op, lambda f=calls[op]: [tuple(r) for r in f().collect()]) for op in self.ops}

    def check(self, spark, inp, res):
        checks = {"exact_duplicates": reference.check_exact, "near_dup_clusters": reference.check_clusters}
        return {op: checks[op](got, inp["doc_id"], inp["text"]) for op, got in res.items()}

    def corrupt(self, res):
        ex = list(res["exact_duplicates"])
        i, s, c = next(r for r in ex if r[1] > 1)
        ex[ex.index((i, s, c))] = (i, s - 1, c)
        cl = list(res["near_dup_clusters"])
        return {"exact_duplicates": ex, "near_dup_clusters": cl[1:]}

    def ladder(self, spark, fresh, tracer):
        from pyspark.sql import functions as F

        from s2_geometry_library_java_spark.operators import dedup

        inp, extra_inp = fresh(), fresh()
        t = {}
        d = self._docs(spark, inp)
        _step(tracer, t, "functions.scan", lambda: _noop(d))
        _step(tracer, t, "operators.exact_duplicates", lambda: _noop(dedup.exact_duplicates(d, "doc_id", "text")))
        _step(tracer, t, "operators.near_dup_clusters",
              lambda: _noop(dedup.near_dup_clusters(d, "doc_id", "text")))
        # candidate pairs on their own, on a second fresh input set, so no
        # band table persisted by near_dup_clusters above is reused
        d2 = self._docs(spark, extra_inp)
        pairs = dedup.lsh_candidate_pairs(d2, "doc_id", "text")
        _step(tracer, t, "operators.lsh_candidate_pairs", lambda: _noop(pairs))
        fam = spark.read.parquet(os.path.join(extra_inp["path"], "families"))
        fa, fb = fam.toDF("a", "fa"), fam.toDF("b", "fb")
        n_pairs, n_true = pairs.join(fa, "a").join(fb, "b").agg(
            F.count("*"), F.sum((F.col("fa") == F.col("fb")).cast("long"))).first()
        scan = t["functions.scan"]
        self_s = {
            "functions.scan": scan,
            "operators.exact_duplicates": t["operators.exact_duplicates"] - scan,
            "operators.near_dup_clusters": t["operators.near_dup_clusters"] - scan,
        }
        # no geo input here: the kernel figures use a fixed hotspot sample
        rng = np.random.default_rng(0)
        metros = gen.metros(rng, 30)
        lat, lng = gen.hotspot_points(rng, 10000, metros)
        verts = dict(enumerate(gen.star_polygons(rng, 12, metros)))
        return {
            "self_s": self_s,
            "chain_s": sum(self_s.values()),
            "kernel": (lat, lng, _polygons(verts), verts),
            "metrics": {
                "functions.scan_rows_per_s": len(inp["doc_id"]) / scan,
                "operators.lsh_candidate_pairs.s": t["operators.lsh_candidate_pairs"] - scan,
                "operators.lsh_candidate_pairs.true_pair_ratio": (n_true or 0) / n_pairs if n_pairs else 0.0,
            },
            "lsh_pairs": int(n_pairs),
        }


WORKLOADS = {w.name: w for w in (IngestUniform(), JoinHotspot(), DedupDupdense())}
