"""The workloads, ``query_suite`` and ``tile_rollup``, and the
``extract_landcover`` probe set that traced ``tile_rollup`` runs end with.
Each times calls into the program's public functions from outside and
checks every op's output.

A workload exposes:

* ``prepare(data)`` opens the inputs ``inputs.load`` located;
* ``pass_order(k)`` lists the ops of pass ``k`` (negative ``k``: warm-up);
  a ``query_suite`` pass is the 22 bench queries in a seed-shuffled order,
  any other pass is one op;
* ``run_op(name, op)`` runs one op inside tracer spans, ``check(name,
  result)`` checks its output afterwards, outside the op's time;
* ``probe(runner)`` (traced runs only) calls single layers alone after the
  measured window;
* ``layer_metrics(passes)`` turns recorded op spans into per-layer metrics.
"""

from __future__ import annotations

import os
import random
import statistics

from pyspark.sql import functions as F

import inputs


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Workload:
    warm_passes = 1        # warm-up passes always run
    max_warm_passes = 1    # more run only while a pass is still falling

    def __init__(self, spark, ctx) -> None:
        self.spark = spark
        self.ctx = ctx

    def pass_order(self, k: int) -> list[str]:
        return [self.name]

    probe_inputs: tuple[str, ...] = ()    # extra inputs a traced run needs

    def probe(self, runner) -> dict[str, float]:
        return {}

    def layer_metrics(self, passes: list[list[dict]]) -> dict[str, float]:
        return {}

    def _sink_seconds(self, df, label: str, reps: int) -> float:
        """Median seconds to evaluate ``df`` into Spark's no-op sink."""
        tr = self.ctx.tracer
        times = []
        for _ in range(reps):
            with tr.span(label) as s:
                df.write.format("noop").mode("overwrite").save()
            times.append(tr.seconds(s))
        return median(times)


# ---------------------------------------------------------------------------

# the module each bench query exists to exercise (layer.<module>.s)
QUERY_LAYER = {
    "hex_assign_docs": "hexgrid", "hex_cell_counts": "rollup",
    "hex_cell_lang_mode": "rollup", "hex_neighbours": "neighbours",
    "hex_kring_profile": "graph", "hex_nearest_cell": "knn",
    "events_hex_rollup": "rollup", "salted_cell_counts": "skew",
    "tpch_q1": "rollup", "revenue_by_nation": "rollup",
    "top_order_per_cust": "rollup", "dedup_exact": "dedup",
    "token_stats": "textops", "lang_dist_by_source": "textops",
    "knn_cosine": "similarity", "minhash_pairs": "dedup",
    "ngram_jaccard": "dedup", "lsh_topk": "similarity",
    "patches_landuse": "tiling", "neighbours_square": "neighbours",
    "cover_landuse": "cover", "dissolve_layers": "dissolve",
}
LAYERS = sorted(set(QUERY_LAYER.values()))


class QuerySuite(Workload):
    """The 22 ``bench.BENCH_QUERIES`` on the generated sf0.1-shaped tables.
    An op is one query: the constructor call (where the eager
    materialisations run), then ``.count()`` checked against the oracle."""

    name = "query_suite"
    # Passes keep falling for about four passes (~22 s each at local[4]),
    # but one run must stay well under a minute and a half, so one cold
    # pass warms up; the seed-shuffled measured pass starts from there.
    warm_passes = max_warm_passes = 1

    def prepare(self, data: dict) -> None:
        import bench
        import __spark_entry__ as entry
        self.names = list(bench.BENCH_QUERIES)
        if set(self.names) != set(QUERY_LAYER):
            raise ValueError("bench.BENCH_QUERIES no longer matches QUERY_LAYER")
        self.items_per_pass = len(self.names)
        self.queries = entry.queries()
        self.table_dir, self.expected = data["tables"], data["rows"]
        self.rng = random.Random(self.ctx.seed)

    def pass_order(self, k: int) -> list[str]:
        order = list(self.names)
        if k >= 0:
            self.rng.shuffle(order)
        return order

    def run_op(self, name: str, op: dict):
        tr = self.ctx.tracer
        with tr.span("entry.build"):
            df = self.queries[name](self.spark, self.table_dir)
        with tr.span("entry.action"):
            return df.count()

    def check(self, name: str, rows):
        return rows == self.expected[name], {"rows": rows,
                                             "expected": self.expected[name]}

    def layer_metrics(self, passes: list[list[dict]]) -> dict[str, float]:
        tr = self.ctx.tracer

        def part(o, label):
            return tr.seconds(tr.children(o, label)[0])

        out = {"entry.build_s": median(sum(part(o, "entry.build") for o in p)
                                       for p in passes),
               "entry.action_s": median(sum(part(o, "entry.action") for o in p)
                                        for p in passes)}
        per_query = {}
        for q in self.names:
            ops = [o for p in passes for o in p if o["op"] == q]
            per_query[q] = median(o["seconds"] for o in ops)
            out[f"query.{q}.s"] = per_query[q]
            out[f"query.{q}.jobs"] = median(o["spark.jobs"] for o in ops)
        for layer in LAYERS:
            out[f"layer.{layer}.s"] = sum(
                s for q, s in per_query.items() if QUERY_LAYER[q] == layer)
        return out


# ---------------------------------------------------------------------------

class TileRollup(Workload):
    """The BASELINE.json job: parquet pages -> ``hexgrid.with_geocode`` ->
    ``hexgrid.with_hex_cell`` -> per-cell count/char-sum rollup, checked
    against the DuckDB totals of the same shared SQL."""

    name = "tile_rollup"
    warm_passes, max_warm_passes = 2, 6
    items_per_pass = inputs.PAGES

    def prepare(self, data: dict) -> None:
        self.expected = data["totals"]
        self.df = self.spark.read.parquet(data["pages"]).select("page_id", "text")

    def _assigned(self):
        from hexscape_spark import hexgrid
        return hexgrid.with_hex_cell(hexgrid.with_geocode(self.df, "page_id"))

    def run_op(self, name: str, op: dict):
        tr = self.ctx.tracer
        with tr.span("rollup.build"):
            roll = (self._assigned().groupBy("cell_id", "q", "r")
                    .agg(F.count(F.lit(1)).alias("n_pages"),
                         F.sum(F.length("text")).alias("sum_chars")))
            total = roll.agg(F.count(F.lit(1)), F.sum("n_pages"),
                             F.sum("sum_chars"))
        with tr.span("rollup.action"):
            cells, pages, chars = total.collect()[0]
        return {"cells": cells, "pages": pages, "chars": chars}

    def check(self, name: str, got):
        return got == self.expected, got

    probe_inputs = ("landcover",)

    def probe(self, runner) -> dict[str, float]:
        out = {"scan.s": self._sink_seconds(self.df, "probe.scan", 3),
               "hexgrid.assign_s": self._sink_seconds(
                   self._assigned(), "probe.assign", 3)}
        lc = Landcover(self.spark, self.ctx)
        lc.prepare(inputs.load(self.ctx.cache, "landcover", self.ctx.seed))
        lc.install_spans()
        # the first extract_landcover call in a process runs cold (Python
        # workers, codegen), so only the second one is reported
        ops = [runner.execute(lc.name, phase, lc)
               for phase in ("probe-cold", "probe")]
        out.update(lc.layer_metrics(ops[1:]))
        out.update(lc.probe(runner))
        return out


# ---------------------------------------------------------------------------

class Landcover(Workload):
    """hexscape's headline lifecycle: ``pipeline.extract_landcover`` with
    parquet checkpoints over a seeded CLC-like coverage (one input
    partition per file), then count ``cells`` and collect the small
    ``dissolved`` table."""

    name = "landcover"
    hex_width = 250.0

    def prepare(self, data: dict) -> None:
        from hexscape_spark import geo
        self.lc = self.spark.read.parquet(*data["coverage"])
        self.codes = {r[0] for r in self.lc.select("clc").distinct().collect()}
        self.mask = geo.rect_wkb(0.0, 0.0, inputs.MASK_SIDE_M,
                                 inputs.MASK_SIDE_M)
        self.ckpt = os.path.join(self.ctx.scratch, "lc_checkpoints")

    def run_op(self, name: str, op: dict):
        from hexscape_spark import pipeline
        from hexscape_spark.checkpoint import read_manifest
        tr = self.ctx.tracer
        with tr.span("pipeline.build"):
            res = pipeline.extract_landcover(
                self.spark, self.lc, self.mask, hex_width=self.hex_width,
                checkpoint_root=self.ckpt, resume=False)
        with tr.span("pipeline.action"):
            n_cells = res["cells"].count()
            dissolved = res["dissolved"].select("clc", "area").collect()
        manifests = [read_manifest(self.ckpt, n) for n in ("lc_cover", "lc_cells")]
        op["checkpoint.bytes"] = sum(m["bytes"] for m in manifests)
        op["checkpoint.rows"] = sum(m["rows"] for m in manifests)
        return res["cells"], dissolved, n_cells

    def check(self, name: str, result):
        cells, dissolved, n_cells = result
        # per cell, the code areas plus the MISSING_CC gap tile the mask
        # cell (the tests/test_pipeline.py invariant).  Relative tolerance:
        # at 50 km coordinates rounding alone reaches 1e-6 m2 on a 54,127 m2
        # cell, so the tests' absolute 1e-6 would flag float noise.
        bad = (cells.groupBy("cell_id")
               .agg(F.sum("area").alias("t"), F.first("mask_area").alias("m"))
               .where(F.abs(F.col("t") - F.col("m")) > 1e-9 * F.col("m"))
               .count())
        codes = sorted(r["clc"] for r in dissolved)
        total = sum(r["area"] for r in dissolved)
        ok = (bad == 0 and n_cells > 0
              and codes == sorted(self.codes | {"MISSING_CC"})
              and abs(total - inputs.MASK_SIDE_M ** 2) <= 1e-6 * total)
        return ok, {"cells": n_cells, "bad_cells": bad, "codes": codes,
                    "area": total}

    def install_spans(self) -> None:
        """Time the ``checkpoint.checkpoint`` calls the pipeline makes by
        wrapping the name the pipeline module calls, in this process."""
        from hexscape_spark import pipeline
        inner = pipeline.checkpoint
        tr = self.ctx.tracer

        def timed(df, root, name, *args, **kwargs):
            with tr.span("checkpoint.write", checkpoint=name):
                return inner(df, root, name, *args, **kwargs)

        pipeline.checkpoint = timed

    def probe(self, runner) -> dict[str, float]:
        from hexscape_spark.cover import polygon_cell_cover
        from hexscape_spark.dissolve import dissolve
        return {"cover.polygon_cell_cover_s": self._sink_seconds(
                    polygon_cell_cover(self.lc, hex_width=self.hex_width),
                    "probe.cover", 1),
                "dissolve.dissolve_s": self._sink_seconds(
                    dissolve(self.lc, key="clc"), "probe.dissolve", 1)}

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        tr = self.ctx.tracer
        builds = [tr.children(o, "pipeline.build")[0] for o in ops]
        return {
            "pipeline.jobs": median(o["spark.jobs"] for o in ops),
            "pipeline.stages": median(o["spark.stages"] for o in ops),
            "pipeline.build_s": median(tr.seconds(b) for b in builds),
            "pipeline.action_s": median(
                tr.seconds(tr.children(o, "pipeline.action")[0]) for o in ops),
            "checkpoint.write_s": median(
                sum(tr.seconds(c) for c in tr.children(b, "checkpoint.write"))
                for b in builds),
            "checkpoint.bytes": median(o["checkpoint.bytes"] for o in ops),
            "checkpoint.rows": median(o["checkpoint.rows"] for o in ops),
        }


WORKLOADS = {w.name: w for w in (QuerySuite, TileRollup)}
