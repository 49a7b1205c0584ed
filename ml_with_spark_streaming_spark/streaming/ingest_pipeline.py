"""The composed ingest door: every micro-batch makes one staged pass
through the accept/reject gates a production corpus runs at the door.
All gates are the EXACT batch operators, so stream verdicts equal batch
verdicts.

The pass is one ordered stage table, ``_STAGES``:

1. ``dedup`` — ``StreamingIngestDedup``, q105's exact + near-dup gates
   against the corpus fingerprint/band indexes. Novelty runs first, so
   no later gate scores a document about to be discarded.
2. ``embdedup`` — ``StreamingEmbeddingDedup``, the semantic near-dup
   gate over a carried ``embedding`` column: a paraphrase that shares
   no shingle with the corpus is still caught by its vector.
3. ``segdedup`` — ``StreamingSegmentDedup``, q137's boilerplate
   REWRITE, so every later gate scores the text that would be stored.
4. ``segquality`` — ``StreamingSegmentQuality``, q156's stateless
   paragraph-level quality REWRITE.
5. ``decon`` — ``StreamingDecontaminationFilter``, q101's 13-gram
   eval-set overlap.
6. ``quality`` — ``StreamingQualityFilter``, the frozen q112 weight
   table (the only gate besides ``dedup`` that is always on).
7. ``perplexity`` — ``StreamingPerplexityFilter``, the frozen q131
   bigram LM.
8. ``dsir`` — ``StreamingDSIRFilter``, the frozen q135
   importance-resampling table; last because it is the most selective.

One continuation drives the table: each configured gate's ``on_kept``
calls the user's hook for that gate, records the gate's kept count in
the batch's ledger row, and runs the next configured gate INSIDE the
callback (the upstream gate drops its cached frame only after its
``on_kept`` returns). When an upstream gate kept nothing, the
downstream gates do not run and get an explicit all-zero history row;
the decision reads the kept count from the history row the gate just
appended, never an extra Spark job. After the last gate, an optional
``StreamingANNIndexMaintainer`` appends the accepted ids' vectors
(taken from the original batch, since the rewrite stages drop the
vector column) to the persisted IVF index, refitting on drift when
armed, and ``on_accepted`` receives the accepted slice.

Each gate keeps its own per-batch history; the pipeline's ledger row
per batch is (n_in, n_after_dedup, n_after_embdedup, n_after_rewrite,
n_after_segquality, n_after_decon, n_after_quality, n_accepted). An
unconfigured stage carries the upstream count, and n_accepted is what
the last configured gate kept.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.streaming.ann_index_maintainer import (
    StreamingANNIndexMaintainer,
)
from ml_with_spark_streaming_spark.streaming.decon_filter import (
    StreamingDecontaminationFilter,
)
from ml_with_spark_streaming_spark.streaming.dsir_filter import StreamingDSIRFilter
from ml_with_spark_streaming_spark.streaming.embedding_dedup_filter import (
    StreamingEmbeddingDedup,
)
from ml_with_spark_streaming_spark.streaming.foreach import ForeachBatchStage
from ml_with_spark_streaming_spark.streaming.ingest_dedup import StreamingIngestDedup
from ml_with_spark_streaming_spark.streaming.perplexity_filter import (
    StreamingPerplexityFilter,
)
from ml_with_spark_streaming_spark.streaming.quality_filter import StreamingQualityFilter
from ml_with_spark_streaming_spark.streaming.segment_dedup_filter import (
    StreamingSegmentDedup,
)
from ml_with_spark_streaming_spark.streaming.segment_quality_filter import (
    StreamingSegmentQuality,
)

_SEG_KEYS = ("n_docs", "n_segs", "n_cut", "n_docs_kept")
# The door's stages in chain order, one row each:
# (pipeline attribute, history kept-key, ledger key, zero-row keys).
# perplexity and dsir both write n_accepted, so the last configured
# gate's count wins.
_STAGES = (
    ("dedup", "n_kept", "n_after_dedup", ()),
    ("embdedup", "n_kept", "n_after_embdedup", ("n_vecs", "n_exact", "n_near", "n_kept")),
    ("segdedup", "n_docs_kept", "n_after_rewrite", _SEG_KEYS),
    ("segquality", "n_docs_kept", "n_after_segquality", _SEG_KEYS),
    ("decon", "n_kept", "n_after_decon", ("n_docs", "n_contaminated", "n_kept")),
    ("quality", "n_kept", "n_after_quality", ("n_docs", "n_kept")),
    ("perplexity", "n_kept", "n_accepted", ("n_docs", "n_kept", "n_unscored")),
    ("dsir", "n_kept", "n_accepted", ("n_docs", "n_kept")),
)


@dataclass
class StreamingIngestPipeline(ForeachBatchStage):
    """Run one document stream through the stage table's configured
    gates, in order.

    ``on_accepted`` receives each batch's fully-accepted slice (novel,
    clean of eval overlap, high-quality, AND in-distribution under the
    reference LM) — the write-to-storage hook.
    """

    dedup: StreamingIngestDedup
    quality: StreamingQualityFilter
    embdedup: StreamingEmbeddingDedup | None = None
    segdedup: StreamingSegmentDedup | None = None
    segquality: StreamingSegmentQuality | None = None
    decon: StreamingDecontaminationFilter | None = None
    perplexity: StreamingPerplexityFilter | None = None
    dsir: StreamingDSIRFilter | None = None
    # the serving-index stage AFTER acceptance: each batch's
    # fully-accepted vectors are appended to the persisted IVF artifact
    # (and refit on drift when the maintainer is armed) — the index a
    # deployment probes always reflects exactly the accepted corpus
    ann_maintainer: StreamingANNIndexMaintainer | None = None
    # one coalesce+checkpoint at the door: micro-batches are
    # scheduling-bound on wide default partitionings (the embedding
    # gate's measured lesson), and checkpointing here makes the source
    # parse exactly once instead of per-stage. None disables.
    batch_partitions: int | None = 8
    on_accepted: object = None
    ledger: list[dict] = field(default_factory=list)

    def __post_init__(self) -> None:
        # the pipeline drives the gates through their on_kept hooks; a
        # hook set on a gate before construction is kept and still
        # called, one slot per _STAGES row
        self._hooks = tuple(
            getattr(getattr(self, attr), "on_kept", None) for attr, *_ in _STAGES
        )

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        weights: list[tuple[str, int]],
        eval_corpus: DataFrame | None = None,
        embedding_corpus: DataFrame | None = None,
        embedding_threshold: float = 0.95,
        embedding_verify_mode: str = "broadcast",
        embedding_bucket_partitions: int | None = None,
        vec_col: str = "embedding",
        segment_width: int | None = None,
        segment_quality_threshold_x100: int | None = None,
        perplexity_threshold_x1e6: int | None = None,
        dsir_weights: list[tuple[int, int]] | None = None,
        dsir_n_buckets: int = 512,
        ann_n_centroids: int | None = None,
        ann_refit_skew_threshold: float | None = None,
        on_accepted: object = None,
        **dedup_kw,
    ) -> "StreamingIngestPipeline":
        # all gates must read the same columns
        col_kw = {k: dedup_kw[k] for k in ("id_col", "text_col") if k in dedup_kw}
        decon = (
            StreamingDecontaminationFilter.from_eval_corpus(
                eval_corpus, text_col=col_kw.get("text_col", "text"),
                id_col=col_kw.get("id_col", "doc_id"),
            )
            if eval_corpus is not None
            else None
        )
        ppl = (
            StreamingPerplexityFilter.from_corpus(
                corpus, threshold_x1e6=perplexity_threshold_x1e6, **col_kw
            )
            if perplexity_threshold_x1e6 is not None
            else None
        )
        dsir = (
            StreamingDSIRFilter(
                weights=dsir_weights, n_buckets=dsir_n_buckets, **col_kw
            )
            if dsir_weights is not None
            else None
        )
        embdedup = (
            StreamingEmbeddingDedup.from_corpus(
                embedding_corpus,
                id_col=col_kw.get("id_col", "doc_id"),
                vec_col=vec_col,
                threshold=embedding_threshold,
                verify_mode=embedding_verify_mode,
                bucket_partitions=embedding_bucket_partitions,
            )
            if embedding_corpus is not None
            else None
        )
        segdedup = (
            StreamingSegmentDedup.from_corpus(corpus, width=segment_width, **col_kw)
            if segment_width is not None
            else None
        )
        segquality = (
            StreamingSegmentQuality(
                width=segment_width if segment_width is not None else 10,
                threshold_x100=segment_quality_threshold_x100,
                **col_kw,
            )
            if segment_quality_threshold_x100 is not None
            else None
        )
        ann = None
        if ann_n_centroids is not None:
            if embedding_corpus is None:
                raise ValueError("ann_n_centroids requires embedding_corpus")
            from ml_with_spark_streaming_spark.operators.ann_index import IVFIndex

            idc = col_kw.get("id_col", "doc_id")
            ann = StreamingANNIndexMaintainer(
                index=IVFIndex.build(
                    embedding_corpus,
                    n_centroids=ann_n_centroids,
                    c_id=idc,
                    c_vec=vec_col,
                ),
                id_col=idc,
                vec_col=vec_col,
                corpus=embedding_corpus,
                refit_skew_threshold=ann_refit_skew_threshold,
            )
        return cls(
            dedup=StreamingIngestDedup.from_corpus(corpus, **dedup_kw),
            quality=StreamingQualityFilter(weights=weights, **col_kw),
            embdedup=embdedup,
            segdedup=segdedup,
            segquality=segquality,
            decon=decon,
            perplexity=ppl,
            dsir=dsir,
            ann_maintainer=ann,
            on_accepted=on_accepted,
        )

    def save_state(self, path: str) -> None:
        """Persist the WHOLE door as one unit: every configured gate's
        index/model artifacts (each via its own ``save_*`` contract,
        so compaction + params sidecars apply) plus one pipeline
        manifest carrying the stage configuration, the frozen scalar
        weights, and the ledger. The manifest is written LAST and
        atomically (tmp + rename): a crash mid-save leaves no
        committed manifest, and ``from_state`` refuses to resume from
        an uncommitted directory — the SCD2 state discipline applied
        to the composed pipeline."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        self.dedup.save_index(os.path.join(path, "dedup_index"))
        if self.embdedup is not None:
            self.embdedup.save_index(os.path.join(path, "emb_index"))
        if self.segdedup is not None:
            self.segdedup.save_index(os.path.join(path, "seg_index"))
        if self.decon is not None:
            self.decon.save_grams(os.path.join(path, "decon_grams"))
        if self.perplexity is not None:
            self.perplexity.save_model(os.path.join(path, "ppl_model"))
        if self.ann_maintainer is not None:
            self.ann_maintainer.save(os.path.join(path, "ann_index"))
        manifest = {
            "id_col": self.dedup.id_col,
            "text_col": self.dedup.text_col,
            "dedup": {
                "grow_index": self.dedup.grow_index,
                "compact_every": self.dedup.compact_every,
                "bloom_prefilter": self.dedup.bloom_prefilter,
            },
            "quality": {"weights": [[fb, int(w)] for fb, w in self.quality.weights]},
            "embdedup": (
                None
                if self.embdedup is None
                else {
                    "vec_col": self.embdedup.vec_col,
                    "grow_index": self.embdedup.grow_index,
                    "compact_every": self.embdedup.compact_every,
                    "dim": self.embdedup.dim,
                    "verify_mode": self.embdedup.verify_mode,
                    # bucket_partitions rides in the gate's own params
                    # sidecar (save_index) and is restored from it
                }
            ),
            "segdedup": (
                None
                if self.segdedup is None
                else {
                    "grow_index": self.segdedup.grow_index,
                    "compact_every": self.segdedup.compact_every,
                }
            ),
            "segquality": (
                None
                if self.segquality is None
                else {
                    "width": self.segquality.width,
                    "threshold_x100": self.segquality.threshold_x100,
                }
            ),
            "decon": (
                None
                if self.decon is None
                else {"bench_names": self.decon.bench_names}
            ),
            "perplexity": (
                None
                if self.perplexity is None
                else {
                    "threshold_x1e6": self.perplexity.threshold_x1e6,
                    "keep_unscored": self.perplexity.keep_unscored,
                }
            ),
            "dsir": (
                None
                if self.dsir is None
                else {
                    "weights": [[int(b), int(w)] for b, w in self.dsir.weights],
                    "n_buckets": self.dsir.n_buckets,
                }
            ),
            "ann_maintainer": (
                None
                if self.ann_maintainer is None
                else {
                    "vec_col": self.ann_maintainer.vec_col,
                    "refit_skew_threshold": self.ann_maintainer.refit_skew_threshold,
                }
            ),
            "ledger": self.ledger,
        }
        tmp = os.path.join(path, "MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(path, "MANIFEST.json"))

    @classmethod
    def from_state(
        cls,
        spark,
        path: str,
        corpus: DataFrame,
        on_accepted: object = None,
        ann_corpus: DataFrame | None = None,
    ) -> "StreamingIngestPipeline":
        """Resume the whole door from ``save_state`` artifacts — no
        corpus/eval/LM rescans; every gate loads its persisted index
        or frozen weights, and the ledger continues where it left off.
        ``corpus`` is the stored document corpus (the text-dedup
        gate's verify side — in production the durable doc store, so
        it is an input here, not part of the state dir)."""
        import json
        import os

        mpath = os.path.join(path, "MANIFEST.json")
        if not os.path.exists(mpath):
            raise FileNotFoundError(
                f"no committed pipeline manifest at {mpath} — "
                "save_state did not complete"
            )
        with open(mpath) as f:
            m = json.load(f)
        col_kw = {"id_col": m["id_col"], "text_col": m["text_col"]}
        dedup = StreamingIngestDedup.from_index_path(
            spark,
            corpus,
            os.path.join(path, "dedup_index"),
            grow_index=m["dedup"]["grow_index"],
            compact_every=m["dedup"]["compact_every"],
            bloom_prefilter=m["dedup"]["bloom_prefilter"],
            **col_kw,
        )
        quality = StreamingQualityFilter(
            weights=[(fb, int(w)) for fb, w in m["quality"]["weights"]], **col_kw
        )
        embdedup = None
        if m["embdedup"] is not None:
            embdedup = StreamingEmbeddingDedup.from_index_path(
                spark,
                os.path.join(path, "emb_index"),
                id_col=m["id_col"],
                vec_col=m["embdedup"]["vec_col"],
                grow_index=m["embdedup"]["grow_index"],
                compact_every=m["embdedup"]["compact_every"],
                dim=m["embdedup"]["dim"],
                verify_mode=m["embdedup"].get("verify_mode", "broadcast"),
            )
        segdedup = None
        if m["segdedup"] is not None:
            segdedup = StreamingSegmentDedup.from_index_path(
                spark,
                os.path.join(path, "seg_index"),
                grow_index=m["segdedup"]["grow_index"],
                compact_every=m["segdedup"]["compact_every"],
                **col_kw,
            )
        segquality = None
        if m["segquality"] is not None:
            segquality = StreamingSegmentQuality(
                width=m["segquality"]["width"],
                threshold_x100=m["segquality"]["threshold_x100"],
                **col_kw,
            )
        decon = None
        if m["decon"] is not None:
            decon = StreamingDecontaminationFilter.from_grams_path(
                spark,
                os.path.join(path, "decon_grams"),
                bench_names=m["decon"]["bench_names"],
                **col_kw,
            )
        ppl = None
        if m["perplexity"] is not None:
            ppl = StreamingPerplexityFilter.from_model_path(
                spark,
                os.path.join(path, "ppl_model"),
                threshold_x1e6=m["perplexity"]["threshold_x1e6"],
                keep_unscored=m["perplexity"]["keep_unscored"],
                **col_kw,
            )
        dsir = None
        if m["dsir"] is not None:
            dsir = StreamingDSIRFilter(
                weights=[(int(b), int(w)) for b, w in m["dsir"]["weights"]],
                n_buckets=m["dsir"]["n_buckets"],
                **col_kw,
            )
        ann = None
        if m.get("ann_maintainer") is not None:
            # the refit corpus resumes as (stored base corpus vectors =
            # the saved index's own accepted set is already inside the
            # artifact's `accepted` table; base vectors must be re-
            # supplied like `corpus` is for the text gate) — callers
            # pass them via ann_corpus when refit stays armed
            ann = StreamingANNIndexMaintainer.from_index_path(
                spark,
                os.path.join(path, "ann_index"),
                id_col=m["id_col"],
                vec_col=m["ann_maintainer"]["vec_col"],
                corpus=ann_corpus,
                refit_skew_threshold=(
                    m["ann_maintainer"]["refit_skew_threshold"]
                    if ann_corpus is not None
                    else None
                ),
                save_path=os.path.join(path, "ann_index"),
            )
        pipe = cls(
            dedup=dedup,
            quality=quality,
            embdedup=embdedup,
            segdedup=segdedup,
            segquality=segquality,
            decon=decon,
            perplexity=ppl,
            dsir=dsir,
            ann_maintainer=ann,
            on_accepted=on_accepted,
        )
        pipe.ledger.extend(m["ledger"])
        return pipe

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if self.batch_partitions is not None:
            batch_df = batch_df.coalesce(self.batch_partitions).localCheckpoint(
                eager=True
            )
        counts: dict[str, int] = {}

        def _next(i: int, kept_df: DataFrame, bid: int) -> None:
            # gate i kept kept_df and has appended its history row
            attr, kept_key, ledger_key, _ = _STAGES[i]
            if self._hooks[i] is not None:
                self._hooks[i](kept_df, bid)
            n = counts[ledger_key] = getattr(self, attr).history[-1][kept_key]
            for j in range(i + 1, len(_STAGES)):
                attr, _, ledger_key, zero_keys = _STAGES[j]
                gate = getattr(self, attr)
                if gate is None:
                    counts[ledger_key] = n
                elif n == 0:
                    # the gate never runs; an explicit all-zero row
                    # keeps its history index-aligned with the ledger
                    gate.history.append(
                        {"batch_id": bid, **dict.fromkeys(zero_keys, 0)}
                    )
                    counts[ledger_key] = 0
                else:
                    if attr == "embdedup":
                        # the embedding gate emits its kept (id, vec)
                        # slice; map back to the full doc rows by id
                        # (the stream must carry the vec column)
                        idc = gate.id_col
                        gate.on_kept = lambda vecs, b: _next(
                            j, kept_df.join(vecs.select(idc), idc, "semi"), b
                        )
                    else:
                        gate.on_kept = partial(_next, j)
                    # nested, not looped: the gate unpersists its
                    # frame only after this call chain returns
                    gate.process_batch(kept_df, bid)
                    return
            if self.ann_maintainer is not None:
                # serving-index stage: the ACCEPTED ids' vectors, taken
                # from the ORIGINAL batch (the rewrite stages drop the
                # vector column), appended to the IVF artifact
                idc = self.ann_maintainer.id_col
                vecs = batch_df.select(idc, self.ann_maintainer.vec_col).join(
                    F.broadcast(kept_df.select(idc)), idc, "semi"
                )
                self.ann_maintainer.process_batch(vecs, bid)
            if self.on_accepted is not None:
                self.on_accepted(kept_df, bid)

        self.dedup.on_kept = partial(_next, 0)
        self.dedup.process_batch(batch_df, batch_id)
        self.ledger.append(
            {"batch_id": batch_id, "n_in": self.dedup.history[-1]["n_docs"], **counts}
        )
