"""The three batch workloads, each as the job a user runs.

``job`` runs one workload end to end through the package's public entry
points and returns its outputs as (columns, rows) pairs. With a live
tracer it runs the same work as calls into each layer's public functions
in the order the composite runs them, each call in a span. Staged
workloads also interrupt and resume their job through the public
CheckpointStore API (``resume``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import __spark_entry__ as E
from tilecloud_chain_spark import geometry as G
from tilecloud_chain_spark.checkpoint import CheckpointStore
from tilecloud_chain_spark.config import LAYERS, SWISSGRID_5
from tilecloud_chain_spark.functions import gridmath as GM
from tilecloud_chain_spark.operators import corpus as CP
from tilecloud_chain_spark.operators import dedup as DD
from tilecloud_chain_spark.operators import filters as FL
from tilecloud_chain_spark.operators import spatial as SP
from tilecloud_chain_spark.plans import curation as CU
from tilecloud_chain_spark.plans import pipeline as P
from tilecloud_chain_spark.sources import enumerate as EN

from counters import NULL_TRACER, TracedStore, Tracer
from inputs import IMAGE, TILE

# row-proportional flag tables that would never broadcast at 10^12 rows
FORCED_SHUFFLE = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


def _rows(df):
    return df.columns, [tuple(r) for r in df.collect()]


def _store(spark, root: str, tr: Tracer):
    shutil.rmtree(root, ignore_errors=True)
    if tr.reader is None:
        return CheckpointStore(spark, root)
    return TracedStore(spark, root, tr)


class Workload:
    """Defaults of a workload: no Spark conf of its own, no yield ratios,
    no fused calls to calibrate."""

    conf: dict = {}

    def pair_yield(self) -> dict:
        return {}

    def calibrate(self, reader) -> None:
        pass


class TilePyramid(Workload):
    """The reference's own job: render, split, hash-drop and store the
    polygon layer's pyramid through a CheckpointStore, then assign a
    hotspot-skewed image table to the same zooms, join it on ``cell`` to
    the stored tiles and probe it with cell-pruned kNN."""

    name = "tile_pyramid"
    layer = LAYERS["polygon"]

    def __init__(self, spark, d: str, summary: dict):
        self.spark = spark
        self.imgs = spark.read.parquet(os.path.join(d, "images.parquet"))
        self.queries = spark.read.parquet(os.path.join(d, "queries.parquet"))
        geom = G.parse_wkt(self.layer.geom_wkt)
        self.geoms = {z: geom for z in TILE["zooms"]}
        self.input_bytes = sum(os.path.getsize(os.path.join(d, f))
                               for f in ("images.parquet", "queries.parquet"))
        self.images = summary["images"]

    def _pyramid(self, store, tr: Tracer) -> str:
        if tr.reader is None:
            return P.generate_tiles(self.spark, SWISSGRID_5, self.layer, self.geoms, store,
                                    zooms=TILE["zooms"])
        # generate_tiles split at its layer boundaries (the polygon layer is
        # not metatiled, so its plan is dense enumeration + the exact filter)
        job_id = store.create_job(self.layer.name, command="generate_tiles")
        zooms = FL.select_zooms(SWISSGRID_5, TILE["zooms"], self.layer.min_resolution_seed)
        with tr.span("dense_metatiles", "sources.enumerate"):
            metas = None
            for z in zooms:
                df = EN.dense_metatiles(self.spark, SWISSGRID_5, [z], n=1,
                                        bounds=self.geoms[z].bounds(),
                                        px_buffer=self.layer.px_buffer)
                metas = df if metas is None else metas.unionAll(df)
            metas = metas.localCheckpoint(eager=True)
        with tr.span("geom_intersect_filter", "operators.filters"):
            metas = FL.geom_intersect_filter(
                metas, SWISSGRID_5, self.geoms, buffer_px=self.layer.filter_buffer_px(), n="n",
            ).withColumn("cell", GM.cell_key(F.col("z"), F.col("x"), F.col("y")))
            metas = metas.localCheckpoint(eager=True)
        store.enqueue(job_id, metas)
        P.run_zoom_stages(self.spark, SWISSGRID_5, self.layer, self.geoms, store, job_id)
        return job_id

    def job(self, root: str, tr: Tracer = NULL_TRACER):
        store = _store(self.spark, root, tr)
        job_id = self._pyramid(store, tr)
        tiles = store.output(job_id, "tiles")
        with tr.span("assign_join_knn", "operators.spatial"):
            assigned = SP.assign_tiles(self.imgs, SWISSGRID_5, TILE["zooms"])
            joined = (assigned.join(tiles.select("cell"), "cell")
                      .groupBy("z", F.col("tx").alias("x"), F.col("ty").alias("y"))
                      .agg(F.count("*").alias("n_images")))
            knn = SP.knn_cells(self.imgs, self.queries, SWISSGRID_5, TILE["knn_zoom"],
                               TILE["knn_k"]).select("qid", "image_id", "rank")
            out = {"joined": _rows(joined), "knn": _rows(knn)}
        with tr.span("tiles_read", "checkpoint.store"):
            stored = _rows(tiles.select("z", "x", "y", "data"))
        out["tiles"] = (["z", "x", "y"], [r[:3] for r in stored[1]])
        out["stored"] = stored
        rows = len(stored[1]) + self.images
        return store, job_id, out, rows

    def resume(self, store, job_id: str):
        """Mark the last zoom's stage failed, reopen it and finish the job."""
        z = max(TILE["zooms"])
        store.set_status(job_id, "tiles", z, "error")
        reopened = store.retry_errors(job_id)
        P.run_zoom_stages(self.spark, SWISSGRID_5, self.layer, self.geoms, store, job_id)
        return reopened, _rows(store.output(job_id, "tiles").select("z", "x", "y", "data"))


class TextAdmission(Workload):
    """The composed corpus-admission operator over generated crawl pages."""

    name = "text_admission"
    conf = FORCED_SHUFFLE
    lm_threshold = -3_480_000  # q_corpus_admission's arguments
    chunk_tokens = 512

    def __init__(self, spark, d: str, summary: dict):
        self.spark = spark
        self.d = d
        self.input_bytes = os.path.getsize(os.path.join(d, "documents.parquet"))
        self.docs = summary["docs"]
        self.split: dict = {}  # set by calibrate, before any traced job

    def job(self, root: str, tr: Tracer = NULL_TRACER):
        if tr.reader is None:
            return None, None, {"admission": _rows(E.q_corpus_admission(self.spark, self.d))}, self.docs
        # corpus_admission's calls in its order, with corpus_admission's
        # defaults. Its three overlap threads (scoring, dedup, decontam)
        # run one after another here, its lazy flag pin is eager, and the
        # pinned extraction is materialized by a count of its own instead
        # of inside the redaction pin.
        with tr.span("corpus_inputs", "operators.corpus"):
            pages, profiles, lm_model, eval_df, ext = E._corpus_inputs(self.spark, self.d)
        with tr.span("extract_stage", "operators.html"):
            ext.count()
        c = F.col("clean_text")
        with tr.span("redact_quality_pin", self.split["pin"]):
            red = ext.select(
                "doc_id", *CP._redacted_cols(c), CP._quality_col(c, 5, 0.8),
            ).localCheckpoint(eager=True)
        redacted = red.select("doc_id", "text")
        with tr.span("train_bigram_lm", "operators.lm"):
            model = lm_model()
        with tr.span("scored_rows_stage", self.split["score"]):
            scored = CP.scored_rows_stage(
                ext, profiles, model, lm_threshold_micro=self.lm_threshold, scores_only=True,
            ).localCheckpoint(eager=True)
        with tr.span("dedup_stage", "operators.dedup"):
            dd = CP.dedup_stage(redacted, 0.5)
        with tr.span("decontam_stage", "operators.dedup"):
            ct = CP.decontam_stage(redacted, eval_df, 5).localCheckpoint(eager=True)
        with tr.span("flags_join", "operators.corpus"):
            lang_keep = F.col("lang_pred").isin(*E._CORPUS_LANG_ALLOW)
            admitted = (lang_keep & F.col("lm_keep") & F.col("quality_keep") & F.col("exact_keep")
                        & F.col("neardup_keep") & F.col("decontam_keep"))
            flags = (
                scored.join(red.select("doc_id", "n_pii", "quality_keep"), "doc_id")
                .join(dd, "doc_id").join(ct, "doc_id")
                .select("doc_id", "n_blocks_kept", "lang_pred", "lang_score",
                        lang_keep.alias("lang_keep"), "lm_keep", "quality_keep", "n_pii",
                        "exact_keep", "neardup_keep", "decontam_keep", admitted.alias("admitted"))
            ).localCheckpoint(eager=True)
        with tr.span("pack_stage", "operators.text"):
            packed = CP.pack_stage(redacted, flags, self.chunk_tokens).localCheckpoint(eager=True)
        with tr.span("assemble_corpus_admission", "operators.corpus"):
            out = {"admission": _rows(CP.assemble_corpus_admission(flags, packed))}
        return None, None, out, self.docs

    def calibrate(self, reader) -> None:
        """Shares by which the traced job splits its two fused calls.

        The scoring pass runs the langid and LM scorers on each text in
        one Python loop: split by the driver time of each scorer (built
        and run over every extracted text, best of 3). The redaction pin
        computes redaction and the quality floor in one JVM projection:
        split by the executor run time of each projection run alone over
        the pinned extraction (median of 3)."""
        from tilecloud_chain_spark.operators.langid import _profile_scorer
        from tilecloud_chain_spark.operators.lm import _bigram_scorer

        from counters import run_seconds

        _, profiles, lm_model, _, ext = E._corpus_inputs(self.spark, self.d)
        texts = [r[0] for r in ext.select("clean_text").collect()]
        bw, pw = lm_model()
        prof_rows, bw_rows, pw_rows = profiles.collect(), bw.collect(), pw.collect()

        def py_cost(make) -> float:
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                one = make()
                for t in texts:
                    one(t)
                best = min(best, time.perf_counter() - t0)
            return best

        lang = py_cost(lambda: _profile_scorer(prof_rows))
        lm = py_cost(lambda: _bigram_scorer(bw_rows, pw_rows))
        score = {"operators.langid": lang / (lang + lm), "operators.lm": lm / (lang + lm)}

        c = F.col("clean_text")
        cols = {"operators.text": CP._redacted_cols(c), "operators.quality": (CP._quality_col(c, 5, 0.8),)}
        runs: dict = {k: [] for k in cols}
        for _ in range(3):
            for layer, proj in cols.items():
                lo = reader.next_job_id()
                ext.select("doc_id", *proj).write.format("noop").mode("overwrite").save()
                runs[layer].append(run_seconds(reader.snapshot(lo, reader.next_job_id())))
        med = {k: statistics.median(v) for k, v in runs.items()}
        total = sum(med.values())
        self.split = {"score": score, "pin": {k: v / total for k, v in med.items()}}


class ImageAdmissionStaged(Workload):
    """The staged, resumable image-curation plan and its admission table."""

    name = "image_admission_staged"
    conf = FORCED_SHUFFLE

    def __init__(self, spark, d: str, summary: dict):
        self.spark = spark
        self.imgs = spark.read.parquet(os.path.join(d, "images.parquet"))
        self.eval = spark.read.parquet(os.path.join(d, "eval.parquet"))
        self.input_bytes = sum(os.path.getsize(os.path.join(d, f))
                               for f in ("images.parquet", "eval.parquet"))
        self.images = summary["images"]

    def _curate(self, store, job_id=None) -> str:
        return CU.curate_images(
            self.spark, self.imgs, store, eval_df=self.eval,
            dedup_hamming=IMAGE["dedup_hamming"], decontam_hamming=IMAGE["decontam_hamming"],
            batch_size=IMAGE["batch_size"], with_schedule=False, job_id=job_id,
        )

    def job(self, root: str, tr: Tracer = NULL_TRACER):
        store = _store(self.spark, root, tr)
        job_id = self._curate(store)
        with tr.span("admission_table", "operators.image_curation"):
            out = {"admission": _rows(CU.admission_table(store, job_id))}
        return store, job_id, out, self.images

    def pair_yield(self) -> dict:
        """Pairs within the dedup radius per row of the pigeonhole block
        self-join, over the raw image table."""
        r = IMAGE["dedup_hamming"]
        blocked = DD.blocked_keys(self.imgs, "phash", r, keep_cols=["image_id"])
        a = blocked.select(F.col("image_id").alias("id_a"), "chunk", "key")
        b = blocked.select(F.col("image_id").alias("id_b"), "chunk", "key")
        cand = a.join(b, ["chunk", "key"]).filter(F.col("id_a") < F.col("id_b")).count()
        verified = DD.int64_near_pairs(self.imgs, r, "phash", "image_id").count()
        return {"operators.image_dedup.pair_yield": verified / cand if cand else 0.0}

    def resume(self, store, job_id: str):
        """Mark the last two stages failed, reopen them and re-run the job."""
        for stage in ("admitted", "batches"):
            store.set_status(job_id, stage, 0, "error")
        reopened = store.retry_errors(job_id)
        self._curate(store, job_id)
        return reopened, _rows(CU.admission_table(store, job_id))


WORKLOADS = {w.name: w for w in (TilePyramid, TextAdmission, ImageAdmissionStaged)}
