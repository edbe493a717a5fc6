"""Tests for normalize_text / chunk_documents / lm_score."""

import math

from conftest import rows

from database_transportor_spark.operators.text import (
    chunk_documents,
    lm_score,
    normalize_text,
)


def _docs(spark, data):
    return spark.createDataFrame(data, ["doc_id", "text"])


def test_normalize_text_defaults(spark):
    df = _docs(spark, [(1, "  Hello\t\tWorld \n"), (2, "A  B"), (3, "")])
    out = rows(normalize_text(df).select("doc_id", "norm_text"), "doc_id")
    assert out == [(1, "hello world"), (2, "a b"), (3, "")]


def test_normalize_text_strip_punct(spark):
    df = _docs(spark, [(1, "Hi, there! (ok)")])
    out = rows(
        normalize_text(df, strip_punct=True).select("norm_text"), "norm_text"
    )
    assert out == [("hi there ok",)]


def test_normalize_text_toggles_off(spark):
    df = _docs(spark, [(1, " Keep CASE  and   gaps ")])
    out = rows(
        normalize_text(df, lowercase=False, collapse_whitespace=False).select(
            "norm_text"
        )
    )
    assert out == [(" Keep CASE  and   gaps ",)]


def test_chunk_documents_windows_and_overlap(spark):
    df = _docs(spark, [(1, "abcdefghij")])  # len 10
    out = rows(
        chunk_documents(df, size=4, stride=3).select(
            "doc_id", "chunk_idx", "chunk_text", "chunk_len"
        ),
        "chunk_idx",
    )
    # starts 1,4,7,10 -> abcd, defg, ghij, j
    assert out == [
        (1, 0, "abcd", 4),
        (1, 1, "defg", 4),
        (1, 2, "ghij", 4),
        (1, 3, "j", 1),
    ]


def test_chunk_documents_empty_doc_yields_one_empty_chunk(spark):
    df = _docs(spark, [(7, "")])
    out = rows(chunk_documents(df, size=5, stride=5))
    assert out == [(7, 0, "", 0)]


def test_chunk_documents_exact_cover_no_tail(spark):
    df = _docs(spark, [(1, "abcdef")])  # len 6, size=stride=3
    out = rows(chunk_documents(df, size=3, stride=3), "chunk_idx")
    assert out == [(1, 0, "abc", 3), (1, 1, "def", 3)]


def test_chunk_documents_rejects_bad_args(spark):
    import pytest

    df = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError):
        chunk_documents(df, size=0)
    with pytest.raises(ValueError):
        chunk_documents(df, stride=0)


def test_lm_score_matches_hand_model(spark):
    # corpus: "a a b" and "a c"; counts a=3 b=1 c=1, total=5, V=3
    df = _docs(spark, [(1, "a a b"), (2, "a c")])
    out = dict(
        (r["doc_id"], (r["avg_logprob"], r["n_scored"]))
        for r in lm_score(df).collect()
    )
    total, v, s = 5, 3, 1.0
    lp = {t: math.log((c + s) / (total + s * v)) for t, c in
          {"a": 3, "b": 1, "c": 1}.items()}
    exp1 = round((2 * lp["a"] + lp["b"]) / 3, 4)
    exp2 = round((lp["a"] + lp["c"]) / 2, 4)
    assert out[1] == (exp1, 3)
    assert out[2] == (exp2, 2)


def test_lm_score_excludes_empty_docs(spark):
    df = _docs(spark, [(1, "a b"), (2, "   ")])
    got = lm_score(df).select("doc_id").collect()
    assert [r["doc_id"] for r in got] == [1]


def test_dedup_lines_first_occurrence_order_preserved(spark):
    from database_transportor_spark.operators.text import dedup_lines

    df = spark.createDataFrame(
        [(1, "header\nbody one\nheader\nbody two\nheader"),
         (2, "only\nunique\nlines"),
         (3, "")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["text"], r["n_lines_removed"])
           for r in dedup_lines(df).collect()}
    assert got[1] == ("header\nbody one\nbody two", 2)
    assert got[2] == ("only\nunique\nlines", 0)
    assert got[3] == ("", 0)


def test_dedup_lines_custom_sep_and_out_col(spark):
    from database_transportor_spark.operators.text import dedup_lines

    df = spark.createDataFrame([(1, "a b a c b a")], ["doc_id", "text"])
    r = dedup_lines(df, "text", sep=" ", out_col="clean").collect()[0]
    assert r["clean"] == "a b c" and r["n_lines_removed"] == 3
    assert r["text"] == "a b a c b a"  # original kept when out_col differs


def test_dedup_lines_zero_shuffle(spark):
    from database_transportor_spark.operators.text import dedup_lines

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dedup_lines(df, "text", sep=" ")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple")
    assert "Exchange" not in plan


def test_dedup_lines_regex_metachar_separator_is_literal(spark):
    from database_transportor_spark.operators.text import dedup_lines

    df = spark.createDataFrame([(1, "a|b|a|c"), (2, "x.y.x")],
                               ["doc_id", "text"])
    got = {r["doc_id"]: (r["text"], r["n_lines_removed"])
           for r in dedup_lines(df, sep="|").collect()}
    assert got[1] == ("a|b|c", 1)
    assert got[2] == ("x.y.x", 0)  # '|' absent: untouched
    dots = {r["doc_id"]: r["text"]
            for r in dedup_lines(df, sep=".").collect()}
    assert dots[2] == "x.y"  # '.' literal, second 'x' removed
    assert dots[1] == "a|b|a|c"


def test_char_entropy_known_values_and_nulls(spark):
    import math

    from database_transportor_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, ""), (5, None),
         (6, "aab")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["char_entropy"] for r in char_entropy(df).collect()}
    assert got[1] == 0.0 and got[2] == 1.0 and got[3] == 2.0
    assert got[4] is None and got[5] is None
    expect6 = round(-(2/3) * math.log2(2/3) - (1/3) * math.log2(1/3), 6)
    assert got[6] == expect6


def test_dedup_paragraphs_cross_doc_removal(spark):
    from database_transportor_spark.operators.text import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "intro\ncookie banner\nunique one"),
         (2, "cookie banner\nunique two\nfooter"),
         (3, "footer\ncookie banner"),
         (4, None),
         (5, "")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["text"], r["n_paras_removed"])
           for r in dedup_paragraphs(df, sep="\n").collect()}
    # 'cookie banner' in 3 docs and 'footer' in 2 -> removed everywhere;
    # unique prose kept in order; NULL passes through; all-boilerplate
    # doc survives with empty text
    assert got[1] == ("intro\nunique one", 1)
    assert got[2] == ("unique two", 2)
    assert got[3] == ("", 2)
    assert got[4] == (None, 0)
    assert got[5] == ("", 0)


def test_dedup_paragraphs_max_docs_threshold(spark):
    from database_transportor_spark.operators.text import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "a|b"), (2, "a|c"), (3, "a|d")], ["doc_id", "text"]
    )
    # 'a' is in 3 docs: survives max_docs=3, dies at max_docs=2
    keep = {r["doc_id"]: r["text"]
            for r in dedup_paragraphs(df, sep="|", max_docs=3).collect()}
    assert keep == {1: "a|b", 2: "a|c", 3: "a|d"}
    drop = {r["doc_id"]: r["text"]
            for r in dedup_paragraphs(df, sep="|", max_docs=2).collect()}
    assert drop == {1: "b", 2: "c", 3: "d"}


def test_dedup_paragraphs_within_doc_repeat_not_cross(spark):
    from database_transportor_spark.operators.text import dedup_paragraphs

    # a paragraph repeated INSIDE one doc only is not cross-doc
    # boilerplate: count(DISTINCT doc) == 1 keeps it (dedup_lines is the
    # within-doc rule)
    df = spark.createDataFrame([(1, "x\nx\ny"), (2, "z")],
                               ["doc_id", "text"])
    got = {r["doc_id"]: (r["text"], r["n_paras_removed"])
           for r in dedup_paragraphs(df, sep="\n").collect()}
    assert got[1] == ("x\nx\ny", 0)
    assert got[2] == ("z", 0)


def test_bigram_lm_prefers_repeated_phrases(spark):
    from database_transportor_spark.operators.text import bigram_lm_score

    rows = [(i, "the quick brown fox jumps") for i in range(5)]
    rows.append((99, "quick the jumps brown the fox"))  # same words, scrambled
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["avg_logprob2"]
           for r in bigram_lm_score(df).collect()}
    # conditional model: stock phrase docs outscore the scrambled one
    assert got[0] > got[99]
    # a 4-bigram doc scores on all 4
    assert {r["doc_id"]: r["n_scored"]
            for r in bigram_lm_score(df).collect()}[0] == 4


def test_bigram_lm_short_docs_excluded(spark):
    from database_transportor_spark.operators.text import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None), (4, "two words")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_scored"] for r in bigram_lm_score(df).collect()}
    assert got == {4: 1}


def test_dedup_paragraphs_keep_first_canonical_copy(spark):
    from database_transportor_spark.operators.text import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "intro\ncookie banner\nunique one"),
         (2, "cookie banner\nunique two"),
         (3, "cookie banner")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["text"], r["n_paras_removed"])
           for r in dedup_paragraphs(df, sep="\n", keep="first").collect()}
    # lowest doc_id keeps the canonical copy; later docs lose it
    assert got[1] == ("intro\ncookie banner\nunique one", 0)
    assert got[2] == ("unique two", 1)
    assert got[3] == ("", 1)


def test_dedup_paragraphs_keep_rejects_unknown(spark):
    import pytest as _pytest

    from database_transportor_spark.operators.text import dedup_paragraphs

    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="keep"):
        dedup_paragraphs(df, keep="last")


class TestVocabCoverage:
    def test_counts_and_zero_token_docs(self, spark):
        from pyspark.sql import functions as F

        from database_transportor_spark.operators.text import (
            vocab_coverage,
        )

        docs = spark.createDataFrame(
            [(1, "a b a c"), (2, "x y"), (3, "")],
            "doc_id long, text string",
        )
        vocab = spark.createDataFrame([("a",), ("x",)], "token string")
        got = {r["doc_id"]: r for r in
               vocab_coverage(docs, vocab).collect()}
        assert got[1]["n_tokens"] == 4 and got[1]["n_covered"] == 2
        assert got[1]["n_types"] == 3 and got[1]["n_types_covered"] == 1
        assert got[2]["n_covered"] == 1
        assert tuple(got[3][c] for c in
                     ("n_tokens", "n_covered", "n_types",
                      "n_types_covered")) == (0, 0, 0, 0)


class TestBM25TopK:
    """bm25_topk — Lucene-variant BM25 ranked retrieval."""

    def _corpus(self, spark):
        return _docs(spark, [
            (1, "apple banana apple"),
            (2, "apple cherry"),
            (3, "banana banana banana durian"),
            (4, "cherry durian elderberry"),
        ])

    def test_hand_computed_score(self, spark):
        from database_transportor_spark.operators.text import bm25_topk

        docs = self._corpus(spark)
        q = spark.createDataFrame([(1, "apple")], ["query_id", "query"])
        out = {r["doc_id"]: r for r in bm25_topk(docs, q, k=10).collect()}
        # N=4, df(apple)=2, idf = ln((4-2+0.5)/(2+0.5)+1) = ln(2)
        # dl: d1=3, d2=2, d3=4, d4=3 -> avgdl=3
        # d1: tf=2 -> ln2 * 2*2.2 / (2 + 1.2*(0.25+0.75*3/3))
        k1, b = 1.2, 0.75
        exp1 = math.log(2) * (2 * 2.2) / (2 + k1 * (0.25 + b * 3 / 3))
        exp2 = math.log(2) * (1 * 2.2) / (1 + k1 * (0.25 + b * 2 / 3))
        assert out[1]["score"] == round(exp1, 6)
        assert out[2]["score"] == round(exp2, 6)
        assert set(out) == {1, 2}  # only docs containing a query term
        assert out[1]["rank"] == 1 and out[2]["rank"] == 2

    def test_topk_cut_and_doc_id_tiebreak(self, spark):
        from database_transportor_spark.operators.text import bm25_topk

        # two docs with IDENTICAL text => identical scores; tie breaks
        # by ascending doc_id and k=1 keeps only the lower id
        docs = _docs(spark, [(7, "zebra"), (3, "zebra"), (9, "other")])
        q = spark.createDataFrame([(1, "zebra")], ["query_id", "query"])
        out = bm25_topk(docs, q, k=1).collect()
        assert len(out) == 1 and out[0]["doc_id"] == 3

    def test_max_df_ratio_drops_stopword_terms(self, spark):
        from database_transportor_spark.operators.text import bm25_topk

        # "apple" is in 2/4 docs (ratio .5); cap at .4 -> apple ignored,
        # so a pure-apple query matches nothing
        docs = self._corpus(spark)
        q = spark.createDataFrame([(1, "apple")], ["query_id", "query"])
        assert bm25_topk(docs, q, max_df_ratio=0.4).count() == 0
        # cherry df=2 also dropped; durian df=2 dropped; elderberry df=1
        # survives ratio .3
        q2 = spark.createDataFrame(
            [(2, "elderberry cherry")], ["query_id", "query"])
        out = bm25_topk(docs, q2, max_df_ratio=0.3).collect()
        assert [r["doc_id"] for r in out] == [4]

    def test_multi_query_independent_rankings(self, spark):
        from database_transportor_spark.operators.text import bm25_topk

        docs = self._corpus(spark)
        q = spark.createDataFrame(
            [(1, "apple"), (2, "banana durian")], ["query_id", "query"])
        out = bm25_topk(docs, q, k=10)
        got = {(r["query_id"], r["rank"]): r["doc_id"]
               for r in out.collect()}
        assert got[(1, 1)] == 1          # tf=2 apple doc wins q1
        assert got[(2, 1)] == 3          # banana-heavy doc wins q2
        # q2 matches docs 1 (banana), 3, 4 (durian)
        assert sum(1 for (qq, _) in got if qq == 2) == 3

    def test_validation(self, spark):
        import pytest as _pytest
        from database_transportor_spark.operators.text import bm25_topk

        docs = self._corpus(spark)
        q = spark.createDataFrame([(1, "apple")], ["query_id", "query"])
        with _pytest.raises(ValueError, match="k must be"):
            bm25_topk(docs, q, k=0)
        with _pytest.raises(ValueError, match="empty corpus"):
            bm25_topk(docs.filter("doc_id > 99"), q)


class TestBM25Indexed:
    """bm25_index / bm25_topk_indexed — retrieval without corpus rescan."""

    def test_indexed_equals_direct(self, spark):
        from database_transportor_spark.operators.text import (
            bm25_index, bm25_topk, bm25_topk_indexed,
        )

        docs = _docs(spark, [
            (1, "apple banana apple cherry"),
            (2, "apple cherry durian"),
            (3, "banana banana durian"),
            (4, "cherry durian elderberry fig"),
            (5, "fig apple"),
        ])
        q = spark.createDataFrame(
            [(1, "apple durian"), (2, "banana fig")],
            ["query_id", "query"])
        direct = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))
        idx = bm25_index(docs)
        via_index = sorted(map(tuple,
                               bm25_topk_indexed(idx, q, k=10).collect()))
        assert via_index == direct

    def test_indexed_equals_direct_with_empty_doc(self, spark):
        """Regression (round-9 ADVICE medium): empty/NULL-text docs must
        not inflate N on the direct path — both paths count N from docs
        with >= 1 token, so scores stay identical on such corpora."""
        import math

        from database_transportor_spark.operators.text import (
            bm25_index, bm25_topk, bm25_topk_indexed,
        )

        docs = _docs(spark, [
            (1, "apple banana apple"),
            (2, "apple cherry"),
            (3, ""),                      # tokenless: invisible to N
            (4, None),
        ])
        q = spark.createDataFrame([(1, "apple")], ["query_id", "query"])
        direct = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))
        via = sorted(map(tuple, bm25_topk_indexed(
            bm25_index(docs), q, k=10).collect()))
        assert via == direct
        # N=2 (not 4): df(apple)=2 -> idf = ln((2-2+.5)/2.5 + 1)
        k1, b = 1.2, 0.75
        idf = math.log((2 - 2 + 0.5) / 2.5 + 1.0)
        exp1 = idf * (2 * 2.2) / (2 + k1 * (0.25 + b * 3 / 2.5))
        assert direct[0][2] == round(exp1, 6)

    def test_index_round_trips_through_catalog(self, spark, tmp_path):
        from database_transportor_spark.operators.text import (
            bm25_index, bm25_topk, bm25_topk_indexed,
        )
        from database_transportor_spark.sources.catalog import (
            ParquetCatalog,
        )

        docs = _docs(spark, [(i, f"w{i % 3} w{i % 5} shared")
                             for i in range(1, 20)])
        cat = ParquetCatalog(spark, str(tmp_path / "bmcat"))
        cat.write(bm25_index(docs), "bm25", mode="overwrite")
        q = spark.createDataFrame([(1, "w1 shared")],
                                  ["query_id", "query"])
        direct = sorted(map(tuple, bm25_topk(docs, q, k=5).collect()))
        via = sorted(map(tuple, bm25_topk_indexed(
            cat.read("bm25"), q, k=5).collect()))
        assert via == direct

    def test_validation(self, spark):
        import pytest as _pytest

        from database_transportor_spark.operators.text import (
            bm25_index, bm25_topk_indexed,
        )

        docs = _docs(spark, [(1, "a b")])
        idx = bm25_index(docs)
        q = spark.createDataFrame([(1, "a")], ["query_id", "query"])
        with _pytest.raises(ValueError, match="k must be"):
            bm25_topk_indexed(idx, q, k=0)
        with _pytest.raises(ValueError, match="empty index"):
            bm25_topk_indexed(idx.filter("tf < 0"), q)


class TestBM25IndexUpdate:
    """bm25_index_update — incremental append/delete/upsert parity."""

    def _corpus(self, spark, rows):
        return _docs(spark, rows)

    def test_append_delete_upsert_equals_rebuild(self, spark):
        """Round-9 VERDICT #4: union-append new docs, anti-join deleted
        ids, replace re-added ids — scores via the updated index equal
        a full rebuild's bit-for-bit (N/avgdl/df are index-derived, so
        nothing can go stale)."""
        from database_transportor_spark.operators.text import (
            bm25_index, bm25_index_update, bm25_topk_indexed,
        )

        v1 = _docs(spark, [
            (1, "apple banana apple cherry"),
            (2, "apple cherry durian"),
            (3, "banana banana durian"),
            (4, "cherry durian elderberry fig"),
        ])
        idx = bm25_index(v1)
        # mutation: doc 3 deleted (dedup), doc 5 arrives, doc 2 recrawled
        adds = _docs(spark, [
            (5, "fig apple grape"),
            (2, "apple grape grape cherry"),
        ])
        dels = spark.createDataFrame([(3,)], ["doc_id"])
        updated = bm25_index_update(idx, add_docs=adds, delete_ids=dels)
        final = _docs(spark, [
            (1, "apple banana apple cherry"),
            (2, "apple grape grape cherry"),
            (4, "cherry durian elderberry fig"),
            (5, "fig apple grape"),
        ])
        rebuilt = bm25_index(final)
        assert (sorted(map(tuple, updated.collect()))
                == sorted(map(tuple, rebuilt.collect())))
        q = spark.createDataFrame(
            [(1, "apple grape"), (2, "banana durian")],
            ["query_id", "query"])
        got = sorted(map(tuple, bm25_topk_indexed(updated, q).collect()))
        want = sorted(map(tuple, bm25_topk_indexed(rebuilt, q).collect()))
        assert got == want
        # the deleted doc is unretrievable, the new doc retrievable
        ids = {r[1] for r in got}
        assert 5 in ids and 3 not in ids

    def test_delete_only_and_validation(self, spark):
        import pytest as _pytest

        from database_transportor_spark.operators.text import (
            bm25_index, bm25_index_update,
        )

        idx = bm25_index(_docs(spark, [(1, "a b"), (2, "b c")]))
        left = bm25_index_update(
            idx, delete_ids=spark.createDataFrame([(1,)], ["doc_id"]))
        assert {r["doc_id"] for r in left.collect()} == {2}
        # single-column id frame under any name is accepted
        left2 = bm25_index_update(
            idx, delete_ids=spark.createDataFrame([(1,)], ["gone_id"]))
        assert {r["doc_id"] for r in left2.collect()} == {2}
        with _pytest.raises(ValueError, match="add_docs"):
            bm25_index_update(idx)
        # a multi-column frame without id_col is ambiguous -> refused
        with _pytest.raises(ValueError, match="single id column"):
            bm25_index_update(idx, delete_ids=spark.createDataFrame(
                [(1, "x")], ["a", "b"]))


class TestBM25Stats:
    """bm25_index_stats + stats-served bm25_topk_indexed."""

    def test_stats_served_equals_self_derived(self, spark):
        from database_transportor_spark.operators.text import (
            bm25_index, bm25_index_stats, bm25_topk_indexed,
        )

        docs = _docs(spark, [
            (1, "apple banana apple cherry"),
            (2, "apple cherry durian"),
            (3, "banana banana durian"),
            (4, "cherry durian elderberry fig"),
            (5, "fig apple"),
        ])
        idx = bm25_index(docs)
        stats = bm25_index_stats(idx)
        srow = stats.first()
        assert srow["n_docs"] == 5
        q = spark.createDataFrame(
            [(1, "apple durian"), (2, "banana fig")],
            ["query_id", "query"])
        plain = sorted(map(tuple,
                           bm25_topk_indexed(idx, q, k=10).collect()))
        served = sorted(map(tuple, bm25_topk_indexed(
            idx, q, k=10, stats=stats).collect()))
        assert served == plain
        # max_df_ratio applies on the stats path too
        cut = bm25_topk_indexed(
            idx, spark.createDataFrame([(1, "apple")],
                                       ["query_id", "query"]),
            max_df_ratio=0.4, stats=stats)
        assert cut.count() == 0  # df(apple)=3/5 > 0.4

    def test_stats_path_prunes_scan_and_validates(self, spark):
        import pytest as _pytest

        from database_transportor_spark.operators.text import (
            bm25_index, bm25_index_stats, bm25_topk_indexed,
        )

        docs = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
        idx = bm25_index(docs)
        stats = bm25_index_stats(idx)
        q = spark.createDataFrame([(1, "alpha")], ["query_id", "query"])
        out = bm25_topk_indexed(idx, q, stats=stats)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple")
        # the literal token IN filter reaches the plan (pushable to a
        # parquet posting scan)
        assert "alpha" in plan
        with _pytest.raises(ValueError, match="empty stats"):
            bm25_topk_indexed(idx, q, stats=stats.filter("df < 0"))
        with _pytest.raises(ValueError, match="empty index"):
            bm25_index_stats(idx.filter("tf < 0"))


def test_bm25_index_update_preserves_marker_columns(spark):
    """Round-9 review fix: updating an index that carries sink
    bookkeeping columns (__commit) must not crash — fresh postings get
    NULL markers, stored rows keep theirs."""
    from pyspark.sql import functions as F

    from database_transportor_spark.operators.text import (
        bm25_index, bm25_index_update, bm25_topk_indexed,
    )

    idx = bm25_index(_docs(spark, [(1, "alpha beta"), (2, "beta gamma")])) \
        .withColumn("__commit", F.lit("seed:0"))
    upd = bm25_index_update(
        idx, add_docs=_docs(spark, [(3, "gamma delta")]),
        delete_ids=spark.createDataFrame([(1,)], ["doc_id"]))
    assert set(upd.columns) == {"token", "doc_id", "tf", "dl", "__commit"}
    rows = {(r["doc_id"], r["token"]): r["__commit"] for r in upd.collect()}
    assert all(v == "seed:0" for (d, _), v in rows.items() if d == 2)
    assert all(v is None for (d, _), v in rows.items() if d == 3)
    q = spark.createDataFrame([(1, "gamma")], ["query_id", "query"])
    got = {r["doc_id"] for r in bm25_topk_indexed(upd, q).collect()}
    assert got == {2, 3}


class TestBM25StatsFreshness:
    """Round-10: stats staleness guard + bounded query-term sets +
    the token-range layout helper."""

    def test_stale_stats_detected_or_waved_through(self, spark):
        import warnings as _warnings

        import pytest as _pytest

        from database_transportor_spark.operators.text import (
            bm25_index, bm25_index_stats, bm25_index_update,
            bm25_topk_indexed,
        )

        docs = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
        idx = bm25_index(docs)
        stats = bm25_index_stats(idx)
        q = spark.createDataFrame([(1, "beta")], ["query_id", "query"])
        # fresh stats: serves fine
        assert bm25_topk_indexed(idx, q, stats=stats).count() == 2
        # index mutates, stats don't -> raise by default
        upd = bm25_index_update(
            idx, add_docs=_docs(spark, [(3, "beta delta")]))
        with _pytest.raises(ValueError, match="STALE"):
            bm25_topk_indexed(upd, q, stats=stats)
        # allow_stale=True downgrades to a warning and serves
        with _warnings.catch_warnings(record=True) as w:
            _warnings.simplefilter("always")
            got = bm25_topk_indexed(
                upd, q, stats=stats, allow_stale=True).count()
        assert got == 3 and any("STALE" in str(x.message) for x in w)
        # a legacy stats frame (no n_postings) skips the check
        legacy = stats.drop("n_postings")
        assert bm25_topk_indexed(upd, q, stats=legacy).count() == 3

    def test_large_query_term_set_falls_back_to_semi_join(
            self, spark, monkeypatch):
        """Every stats-mode plan serves exactly what bm25_topk derives
        from the text, on the bounded path's edge cases: the
        single-partition plan (no exchange), the wide plan (an index
        over _STATS_LOCAL_POSTINGS queried for far fewer postings, or
        legacy stats), the literal-IN plan past the pair cap and the
        semi-join fallback past _STATS_QTERM_CAP terms (ADVICE r9)."""
        import database_transportor_spark.operators.text as T

        docs = _docs(spark, [
            (1, "alpha beta gamma"), (2, "beta gamma delta"),
            (3, "delta epsilon"), (4, "beta beta zeta"),
        ])
        # materialized like a stored index, so the plan's exchanges are
        # the serving path's own
        idx = T.bm25_index(docs).localCheckpoint()
        stats = T.bm25_index_stats(idx)
        n_postings = idx.count()
        cases = {
            "an empty query string, one term shared by two queries": ([
                (1, "alpha delta"), (2, "beta epsilon zeta"), (3, ""),
                (4, "beta gamma"),
            ], None),
            "empty query strings only": ([(1, ""), (2, " ")], None),
            "terms all missing from the vocabulary": (
                [(1, "omega psi")], None),
            "max_df_ratio": ([(1, "beta delta"), (2, "zeta")], 0.5),
        }

        def serve(q, ratio, st=stats):
            return T.bm25_topk_indexed(
                idx, q, k=10, stats=st, max_df_ratio=ratio)

        def rows(df):
            return sorted(map(tuple, df.collect()))

        def plan(df):
            return df._jdf.queryExecution().executedPlan().toString()

        for name, (data, ratio) in cases.items():
            q = spark.createDataFrame(data, "query_id long, query string")
            direct = T.bm25_topk(docs, q, k=10, max_df_ratio=ratio)
            want = rows(direct)
            local = serve(q, ratio)
            assert rows(local) == want, name
            assert local.dtypes == direct.dtypes, name
            assert "Exchange" not in plan(local), name
            # the index is one posting over the constant, Σ df far under
            monkeypatch.setattr(T, "_STATS_LOCAL_POSTINGS", n_postings - 1)
            wide = serve(q, ratio)
            assert rows(wide) == want, name
            assert ("Exchange" in plan(wide)) == bool(want), name
            n_tok = len({t for _, s in data for t in s.split()})
            if sum(len(set(s.split())) for _, s in data) > n_tok:
                # more (query, token) pairs than the cap, terms within it
                monkeypatch.setattr(T, "_STATS_QTERM_CAP", n_tok)
                got = serve(q, ratio)
                assert rows(got) == want, name
                assert "LeftSemi" not in plan(got), name
            monkeypatch.setattr(T, "_STATS_QTERM_CAP", 0)
            assert rows(serve(q, ratio)) == want, name
            monkeypatch.undo()
        assert want, "max_df_ratio case must still match something"
        assert "Exchange" in plan(serve(q, ratio, stats.drop("n_postings")))

    def test_index_layout_clusters_tokens_for_file_skipping(
            self, spark, tmp_path):
        from pyspark.sql import functions as F

        from database_transportor_spark.operators.text import (
            bm25_index, bm25_index_layout, bm25_topk_indexed,
        )
        from database_transportor_spark.sources.catalog import (
            ParquetCatalog,
        )

        docs = _docs(spark, [
            (i, f"tok{i % 17} word{i % 5} common filler") for i in range(60)
        ])
        cat = ParquetCatalog(spark, str(tmp_path / "cat"))
        cat.write(bm25_index(docs).repartition(8), "idx", mode="overwrite")
        before = sorted(map(tuple, cat.read("idx").collect()))
        n_files = bm25_index_layout(cat, "idx", files=4)
        assert n_files == 4
        assert sorted(map(tuple, cat.read("idx").collect())) == before
        # a single-token probe's matching rows now live in ONE file —
        # the clustering that parquet min/max footers turn into skips
        hit_files = (
            cat.read("idx").filter(F.col("token") == "common")
            .select(F.input_file_name()).distinct().count()
        )
        assert hit_files == 1
        # serving from the laid-out index is unchanged
        q = spark.createDataFrame([(1, "tok3 word2")],
                                  ["query_id", "query"])
        a = sorted(map(tuple, bm25_topk_indexed(
            bm25_index(docs), q, k=5).collect()))
        b = sorted(map(tuple, bm25_topk_indexed(
            cat.read("idx"), q, k=5).collect()))
        assert a == b
