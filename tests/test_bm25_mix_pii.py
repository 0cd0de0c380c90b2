"""Semantic tests for the round-8 wave-2 corpus operators: BM25 ranking,
weighted mix sampling, and the PII scrub's cross-dialect regex contract."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tdei_extract_load_service_spark.operators.staging import file_key


class TestBM25:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_hand_computed_score(self, spark):
        # 3 docs; query = ["cat"]; df(cat)=2, N=3, dl = 2/4/3, avgdl = 3.0
        from tdei_extract_load_service_spark.operators.text import bm25_topk

        docs = self._docs(
            spark,
            [(1, "cat dog"), (2, "cat cat cat fish"), (3, "bird fish worm")],
        )
        out = {
            r["doc_id"]: r["bm25"]
            for r in bm25_topk(docs, "doc_id", "text", ["cat"], k=10).collect()
        }
        idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))

        def score(tf, dl):
            return round(
                idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0)), 6
            )

        assert out == {1: score(1, 2), 2: score(3, 4)}

    def test_rare_term_outranks_common(self, spark):
        # same tf and dl: the rarer term must score higher
        from tdei_extract_load_service_spark.operators.text import bm25_topk

        docs = self._docs(
            spark,
            [(1, "rare pad"), (2, "common pad"), (3, "common pad"), (4, "common pad")],
        )
        out = {
            r["doc_id"]: r["bm25"]
            for r in bm25_topk(
                docs, "doc_id", "text", ["rare", "common"], k=10
            ).collect()
        }
        assert out[1] > out[2] == out[3] == out[4]

    def test_length_normalization_penalizes_long_docs(self, spark):
        from tdei_extract_load_service_spark.operators.text import bm25_topk

        docs = self._docs(
            spark, [(1, "cat"), (2, "cat " + " ".join(["pad"] * 40))]
        )
        out = {
            r["doc_id"]: r["bm25"]
            for r in bm25_topk(docs, "doc_id", "text", ["cat"], k=10).collect()
        }
        assert out[1] > out[2]

    def test_k_and_tiebreak(self, spark):
        from tdei_extract_load_service_spark.operators.text import bm25_topk

        docs = self._docs(spark, [(i, "cat pad") for i in range(5)])
        got = bm25_topk(docs, "doc_id", "text", ["cat"], k=3).collect()
        assert [r["doc_id"] for r in got] == [0, 1, 2]  # equal scores -> id asc

    def test_empty_terms_rejected(self, spark):
        from tdei_extract_load_service_spark.operators.text import bm25_topk

        with pytest.raises(ValueError):
            bm25_topk(self._docs(spark, [(1, "x")]), "doc_id", "text", [])


class TestMixBudgetSample:
    def _docs(self, spark):
        rows = [(i, f"s{i % 3}", 10) for i in range(60)]
        return spark.createDataFrame(rows, "doc_id long, src string, n long")

    def test_allocation_is_exact_integer_floor(self, spark):
        from tdei_extract_load_service_spark.operators.sampling import (
            mix_budget_sample,
        )

        out = mix_budget_sample(
            self._docs(spark),
            "doc_id",
            "src",
            "n",
            weights={"s0": 0.5, "s1": 0.3, "s2": 0.2},
            total_budget=100,
        )
        budgets = {
            r["src"]: r["budget"]
            for r in out.select("src", "budget").distinct().collect()
        }
        assert budgets == {"s0": 50, "s1": 30, "s2": 20}
        kept = {
            r["src"]: r["cnt"]
            for r in out.groupBy("src").agg(F.count("*").alias("cnt")).collect()
        }
        assert kept == {"s0": 5, "s1": 3, "s2": 2}  # 10 tokens per doc

    def test_strata_outside_mix_dropped(self, spark):
        from tdei_extract_load_service_spark.operators.sampling import (
            mix_budget_sample,
        )

        out = mix_budget_sample(
            self._docs(spark), "doc_id", "src", "n",
            weights={"s0": 1.0}, total_budget=1000,
        )
        assert set(r["src"] for r in out.select("src").distinct().collect()) == {"s0"}

    def test_underfilled_stratum_keeps_everything(self, spark):
        from tdei_extract_load_service_spark.operators.sampling import (
            mix_budget_sample,
        )

        out = mix_budget_sample(
            self._docs(spark), "doc_id", "src", "n",
            weights={"s0": 1.0}, total_budget=10_000,
        )
        assert out.count() == 20  # all of s0 (20 docs * 10 < 10000)

    def test_weights_normalized_not_required_to_sum_to_one(self, spark):
        from tdei_extract_load_service_spark.operators.sampling import (
            mix_budget_sample,
        )

        a = mix_budget_sample(
            self._docs(spark), "doc_id", "src", "n",
            weights={"s0": 5.0, "s1": 3.0, "s2": 2.0}, total_budget=100,
        )
        budgets = {
            r["src"]: r["budget"]
            for r in a.select("src", "budget").distinct().collect()
        }
        assert budgets == {"s0": 50, "s1": 30, "s2": 20}

    def test_invalid_inputs_rejected(self, spark):
        from tdei_extract_load_service_spark.operators.sampling import (
            mix_budget_sample,
        )

        docs = self._docs(spark)
        with pytest.raises(ValueError):
            mix_budget_sample(docs, "doc_id", "src", "n", {}, 10)
        with pytest.raises(ValueError):
            mix_budget_sample(docs, "doc_id", "src", "n", {"s0": -1.0}, 10)
        with pytest.raises(ValueError):
            mix_budget_sample(docs, "doc_id", "src", "n", {"s0": 1.0}, -1)

    def test_micro_weight_underflow_errors_loudly(self, spark):
        """ADVICE r8: a positive weight below ~5e-7 rounds to 0
        micro-units — pre-fix its stratum silently got budget 0, and an
        all-tiny weight vector raised ZeroDivisionError after validation
        passed.  Both must be a loud ValueError naming the strata."""
        from tdei_extract_load_service_spark.operators.sampling import (
            mix_budget_sample,
        )

        docs = self._docs(spark)
        with pytest.raises(ValueError, match="s1"):
            mix_budget_sample(
                docs, "doc_id", "src", "n",
                weights={"s0": 1.0, "s1": 1e-9}, total_budget=10,
            )
        with pytest.raises(ValueError, match="micro-unit"):
            mix_budget_sample(
                docs, "doc_id", "src", "n",
                weights={"s0": 1e-9, "s1": 2e-9}, total_budget=10,
            )


class TestPIIScrub:
    def test_patterns_and_chained_order(self, spark):
        from tdei_extract_load_service_spark.operators.text import (
            pii_match_counts,
            redact_pii,
        )

        df = spark.createDataFrame(
            [
                (
                    "mail a.b+c@x.co.uk and 4111111111111111 then "
                    "+44 (0) 7911 123456 done",
                )
            ],
            "t string",
        )
        row = df.select(
            *pii_match_counts("t"), redact_pii("t").alias("red")
        ).first()
        # counts run per-pattern on the RAW text: the 16-digit card run
        # also matches the looser phone shape, so n_phone counts both —
        # which is exactly why redaction replaces card BEFORE phone
        assert (row["n_email"], row["n_card"], row["n_phone"]) == (1, 1, 2)
        # card redacted BEFORE phone: the 16-digit run must not become <PHONE>
        assert row["red"] == "mail <EMAIL> and <CARD> then <PHONE> done"

    def test_clean_text_untouched(self, spark):
        from tdei_extract_load_service_spark.operators.text import redact_pii

        df = spark.createDataFrame([("just words here",)], "t string")
        assert df.select(redact_pii("t").alias("r")).first()["r"] == "just words here"

    def test_post_scrub_counts_are_zero(self, spark):
        from tdei_extract_load_service_spark.operators.text import (
            pii_match_counts,
            redact_pii,
        )

        df = spark.createDataFrame(
            [("a@b.io 4111111111111111 +1 415 555 0100",)], "t string"
        )
        row = (
            df.select(redact_pii("t").alias("red"))
            .select(*pii_match_counts("red"))
            .first()
        )
        assert tuple(row) == (0, 0, 0)


class TestLMScore:
    def test_corpus_typical_text_scores_higher(self, spark):
        from tdei_extract_load_service_spark.operators.text import lm_bigram_score

        # 'a' is followed by 'b' 9 times and by 'c' once: p(b|a) >> p(c|a),
        # so the majority-pattern doc must outscore the rare-pattern one
        rows = [(i, "ababab") for i in range(9)] + [(9, "acacac")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r["avg_logprob"]
            for r in lm_bigram_score(docs, "doc_id", "text").collect()
        }
        assert out[0] > out[9]

    def test_bigram_counts_and_finiteness(self, spark):
        import math

        from tdei_extract_load_service_spark.operators.text import lm_bigram_score

        docs = spark.createDataFrame(
            [(1, "abc"), (2, "a"), (3, "")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
            for r in lm_bigram_score(docs, "doc_id", "text").collect()
        }
        # docs shorter than 2 chars have no bigrams and drop out
        assert set(got) == {1}
        assert got[1][0] == 2 and math.isfinite(got[1][1])

    def test_uniform_corpus_scores_equal(self, spark):
        from tdei_extract_load_service_spark.operators.text import lm_bigram_score

        docs = spark.createDataFrame(
            [(i, "xyxy") for i in range(4)], "doc_id long, text string"
        )
        vals = {
            r["avg_logprob"]
            for r in lm_bigram_score(docs, "doc_id", "text").collect()
        }
        assert len(vals) == 1


class TestBM25Stored:
    def test_stored_equals_inline(self, spark):
        """The stored-index serve must be bit-identical to the inline
        query — same guarantee as the PQ stored/inline equivalence."""
        import os

        from tdei_extract_load_service_spark.operators.text import (
            bm25_topk,
            bm25_topk_stored,
            build_bm25_index,
        )

        sf = "/root/testdata/sf0.001"
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        terms = ["spark", "join", "window", "scan"]
        src = os.path.join(sf, "documents.parquet")
        path, n_docs, avgdl = build_bm25_index(
            docs, "doc_id", "text", corpus_key=file_key(src)
        )
        inline = [tuple(r) for r in bm25_topk(docs, "doc_id", "text", terms).collect()]
        stored = [
            tuple(r)
            for r in bm25_topk_stored(
                spark, path, n_docs, avgdl, terms
            ).collect()
        ]
        assert stored == inline and len(stored) == 10

    def test_query_scans_only_term_buckets(self, spark):
        """Directory pruning: the postings scan's partition filter must
        restrict term_bucket — the point of the stored layout."""
        import os

        from tdei_extract_load_service_spark.operators.text import (
            bm25_topk_stored,
            build_bm25_index,
        )

        sf = "/root/testdata/sf0.001"
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        src = os.path.join(sf, "documents.parquet")
        path, n_docs, avgdl = build_bm25_index(
            docs, "doc_id", "text", corpus_key=file_key(src)
        )
        df = bm25_topk_stored(spark, path, n_docs, avgdl, ["spark"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "term_bucket" in plan

    def test_index_is_cached_across_calls(self, spark):
        import os

        from tdei_extract_load_service_spark.operators.text import (
            build_bm25_index,
        )

        sf = "/root/testdata/sf0.001"
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        key = file_key(os.path.join(sf, "documents.parquet"))
        a = build_bm25_index(docs, "doc_id", "text", corpus_key=key)
        b = build_bm25_index(docs, "doc_id", "text", corpus_key=key)
        assert a == b and os.path.exists(os.path.join(a[0], "_meta.json"))

    def test_rewritten_input_rebuilds_index(self, spark, tmp_path):
        """The stored index is keyed by what the input is: rewriting the
        corpus file addresses a new snapshot instead of serving the
        stale one."""
        import os
        import shutil

        import pyarrow.parquet as pq

        from tdei_extract_load_service_spark.operators.text import (
            build_bm25_index,
        )

        src = str(tmp_path / "documents.parquet")
        shutil.copy(os.path.join(SF_SMOKE, "documents.parquet"), src)

        def build():
            docs = spark.read.parquet(src)
            return build_bm25_index(
                docs, "doc_id", "text", corpus_key=file_key(src)
            )

        path, n_docs, _ = build()
        table = pq.read_table(src)
        pq.write_table(table.slice(0, table.num_rows // 2), src)
        path2, n_docs2, _ = build()
        assert path2 != path
        assert n_docs2 == table.num_rows // 2 != n_docs
