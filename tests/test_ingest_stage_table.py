"""The ingest door's stage table, pinned in the default (fast) subset:
the text-only door (dedup -> segment dedup -> decontamination ->
quality) over two batches, the second fully rejected by dedup. Pins
the exact ledger, the all-zero history rows of every gate downstream
of a gate that kept nothing, and that a gate hook set before the
pipeline is constructed is still called."""

from __future__ import annotations

from ml_with_spark_streaming_spark.operators.quality_clf import (
    classifier_weights,
    feature_presence,
    heuristic_labels,
)
from ml_with_spark_streaming_spark.streaming.decon_filter import (
    StreamingDecontaminationFilter,
)
from ml_with_spark_streaming_spark.streaming.ingest_dedup import StreamingIngestDedup
from ml_with_spark_streaming_spark.streaming.ingest_pipeline import StreamingIngestPipeline
from ml_with_spark_streaming_spark.streaming.quality_filter import (
    StreamingQualityFilter,
    freeze_weights,
)
from ml_with_spark_streaming_spark.streaming.segment_dedup_filter import (
    StreamingSegmentDedup,
)

from tests.test_ingest_pipeline import _novel_doc
from tests.test_quality_clf import _docs


def test_text_door_ledger_zero_rows_and_user_hook(spark):
    corpus = _docs(spark, n=20)  # even ids: high quality; odd ids: low quality
    frozen = freeze_weights(
        classifier_weights(feature_presence(corpus), heuristic_labels(corpus))
    )
    bench = " ".join(f"bench{chr(97 + i)}" for i in range(13))  # the eval 13-gram
    eval_corpus = spark.createDataFrame(
        [(9000, f"intro {bench} outro")], "doc_id long, text string"
    )
    texts = {r["doc_id"]: r["text"] for r in corpus.filter("doc_id < 3").collect()}
    corpus_seg = " ".join(texts[0].split()[:10])  # one corpus segment, width 10

    hooked: list[tuple[int, list[int]]] = []
    accepted: list[tuple[int, list[int]]] = []
    pipe = StreamingIngestPipeline(
        dedup=StreamingIngestDedup.from_corpus(corpus, threshold=0.9),
        segdedup=StreamingSegmentDedup.from_corpus(corpus, width=10),
        decon=StreamingDecontaminationFilter.from_eval_corpus(eval_corpus),
        # the user's hook is set BEFORE the pipeline takes over on_kept
        quality=StreamingQualityFilter(
            weights=frozen,
            on_kept=lambda df, bid: hooked.append(
                (bid, sorted(r["doc_id"] for r in df.collect()))
            ),
        ),
        on_accepted=lambda df, bid: accepted.append(
            (bid, sorted(r["doc_id"] for r in df.collect()))
        ),
    )
    batch0 = [
        (3000, texts[0]),  # exact copy of a corpus doc -> dedup
        (3001, _novel_doc("qm", 5)),  # novel, clean, high quality -> accepted
        (3002, _novel_doc("zx", 9) + " " + bench),  # eval overlap -> decon
        (3003, "!!! ??? %% novelzz novelqq ### $$$"),  # low quality -> quality
        # novel text + one corpus segment: the segment is cut, the doc
        # continues as its novel text -> accepted
        (3004, _novel_doc("kv", 2) + " " + corpus_seg),
    ]
    batch1 = [(3100, texts[0]), (3101, texts[2])]  # all exact corpus copies
    for bid, rows in enumerate((batch0, batch1)):
        pipe.process_batch(spark.createDataFrame(rows, "doc_id long, text string"), bid)

    zero = {
        "n_after_dedup": 0,
        "n_after_embdedup": 0,
        "n_after_rewrite": 0,
        "n_after_segquality": 0,
        "n_after_decon": 0,
        "n_after_quality": 0,
        "n_accepted": 0,
    }
    assert pipe.ledger == [
        {
            "batch_id": 0,
            "n_in": 5,
            "n_after_dedup": 4,
            "n_after_embdedup": 4,
            "n_after_rewrite": 4,
            "n_after_segquality": 4,
            "n_after_decon": 3,
            "n_after_quality": 2,
            "n_accepted": 2,
        },
        {"batch_id": 1, "n_in": 2, **zero},
    ]
    assert pipe.dedup.history[1]["n_exact"] == 2
    assert pipe.segdedup.history[0]["n_cut"] == 1
    # the gates downstream of dedup never ran on batch 1: explicit
    # all-zero rows keep their histories index-aligned with the ledger
    assert pipe.segdedup.history[1] == {
        "batch_id": 1, "n_docs": 0, "n_segs": 0, "n_cut": 0, "n_docs_kept": 0
    }
    assert pipe.decon.history[1] == {
        "batch_id": 1, "n_docs": 0, "n_contaminated": 0, "n_kept": 0
    }
    assert pipe.quality.history[1] == {"batch_id": 1, "n_docs": 0, "n_kept": 0}
    # the hook fires only when its gate runs; on_accepted every batch
    assert hooked == [(0, [3001, 3004])]
    assert accepted == [(0, [3001, 3004]), (1, [])]
