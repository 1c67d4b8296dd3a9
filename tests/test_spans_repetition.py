"""Span-level duplication (strided window hashing) and within-doc
repetition metrics — known-answer fixtures."""

from __future__ import annotations

import pytest

from processor_post_timeseries_spark.functions.text import repetition_metrics
from processor_post_timeseries_spark.operators.spans import (
    duplicate_spans,
    span_dup_report,
)


@pytest.fixture(scope="module")
def spark():
    from processor_post_timeseries_spark.session import get_spark

    return get_spark("test-spans", master="local[4]")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BOILER = "x" * 40  # a 40-char run shared verbatim across docs


class TestDuplicateSpans:
    def test_shared_boilerplate_is_flagged_same_phase(self, spark):
        # same phase (both copies start at position 1): every aligned
        # window of the run matches across docs
        docs = _docs(spark, [(1, BOILER + "abcdefgh"), (2, BOILER + "zzzzzzzz")])
        out = duplicate_spans(docs)
        by_doc = {}
        for r in out.collect():
            by_doc.setdefault(r["doc_id"], set()).add(r["pos"])
        # windows at pos 1 and 9 lie fully inside the shared 40-char run
        assert {1, 9} <= by_doc[1] and {1, 9} <= by_doc[2]
        assert all(r["n_docs"] == 2 for r in out.collect())

    def test_unique_docs_have_no_flags(self, spark):
        import random

        rng = random.Random(0)
        mk = lambda: "".join(rng.choice("abcdefghij") for _ in range(80))  # noqa: E731
        docs = _docs(spark, [(1, mk()), (2, mk())])
        assert duplicate_spans(docs).count() == 0

    def test_report_fraction(self, spark):
        # doc 3 too short for a window -> absent from the report
        docs = _docs(spark, [(1, BOILER + "abcdefgh"), (2, BOILER + "zzzzzzzz"), (3, "tiny")])
        rep = {r["doc_id"]: r for r in span_dup_report(docs, window=32, stride=8).collect()}
        assert set(rep) == {1, 2}
        # len 48 -> windows at 1,9,17 (17+31=48): n_windows=3; pos 17
        # straddles the unique tail, so 2 of 3 windows are flagged
        assert rep[1]["n_windows"] == 3 and rep[1]["n_dup_windows"] == 2
        assert rep[1]["dup_fraction"] == round(2 / 3, 6)


class TestExactRuns:
    def test_injected_template_extracted_exactly(self, spark):
        """Maximal-run exactness: a 40-char template injected at
        DIFFERENT offsets (phases) in distinct docs comes back as one
        run per doc with the precise start and length — the guarantee
        the strided pass can't make."""
        from processor_post_timeseries_spark.operators.spans import (
            exact_duplicate_runs,
        )

        tpl = "THE-QUICK-BROWN-FOX-JUMPS-OVER-LAZY-DOGS"  # 40 chars
        assert len(tpl) == 40
        docs = _docs(
            spark,
            [
                (1, "aaa" + tpl + "bbbbb"),        # run at pos 4
                (2, tpl + "zzzzzzzzzzzz"),          # run at pos 1
                (3, "cccccccc" + tpl),              # run at pos 9
                (4, "unique-text-without-the-template-here-at-all"),
            ],
        )
        out = {
            r["doc_id"]: (r["run_start"], r["run_len"])
            for r in exact_duplicate_runs(docs, min_len=24).collect()
        }
        assert out == {1: (4, 40), 2: (1, 40), 3: (9, 40)}

    def test_two_separate_runs_stay_separate(self, spark):
        from processor_post_timeseries_spark.operators.spans import (
            exact_duplicate_runs,
        )

        a, b = "A" * 30, "B" * 30
        # both docs share run a AND run b, separated by unique filler
        docs = _docs(
            spark,
            [(1, a + "xxxxxxxxxx" + b), (2, a + "yyyyyyyyyy" + b)],
        )
        out = sorted(
            (r["doc_id"], r["run_start"], r["run_len"])
            for r in exact_duplicate_runs(docs, min_len=24).collect()
        )
        # runs: [1,30] and [41,70] in both docs
        assert out == [(1, 1, 30), (1, 41, 30), (2, 1, 30), (2, 41, 30)]

    def test_candidates_restrict_the_stride1_pass(self, spark):
        from processor_post_timeseries_spark.operators.spans import (
            exact_duplicate_runs,
        )

        tpl = "SHARED-TEMPLATE-CONTENT-FOR-PHASE2-CHECK"
        docs = _docs(spark, [(1, tpl + "aa"), (2, tpl + "bb"), (3, tpl + "cc")])
        cands = spark.createDataFrame([(1,), (2,)], "doc_id long")
        out = {r["doc_id"] for r in exact_duplicate_runs(docs, min_len=24, candidates=cands).collect()}
        assert out == {1, 2}  # doc 3 excluded from the verification pass


class TestRepetition:
    def test_known_values(self, spark):
        # "a b a b a": bigrams [a b, b a, a b, b a] -> 4 grams, 2 distinct,
        # dup_fraction 0.5, top_share 0.5
        docs = _docs(spark, [(1, "a b a b a"), (2, "q w e r t"), (3, "solo")])
        out = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
        assert set(out) == {1, 2}  # "solo" has no bigram
        r1 = out[1]
        assert (r1["n_grams"], r1["n_distinct"]) == (4, 2)
        assert r1["dup_fraction"] == 0.5 and r1["top_share"] == 0.5
        r2 = out[2]
        assert r2["dup_fraction"] == 0.0 and r2["top_share"] == 0.25

    def test_zero_shuffle_plan(self, spark):
        docs = _docs(spark, [(1, "a b c")])
        plan = repetition_metrics(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
