"""Distributed BPE tokenizer training (round 7, r6 verdict #4): the
Spark-trained merge sequence, final vocabulary state, and per-doc token
counts must equal a pure-Python SCALAR reference implementation
(Sennrich-style: pair counts over word types weighted by count, argmax
with (count DESC, a ASC, b ASC) tie-break, leftmost-greedy non-overlapping
merge application) — plus partitioning invariance and the DuckDB
unrolled-CTE twin."""

from __future__ import annotations

import collections
import re

import pytest

from gridfour_spark import textops as T

CORPUS = [
    "the cat sat on the mat",
    "the cats eat hats",
    "a hat that fits the cat",
    "matting and batting",
    "the the the seat",
    "sit sat set 42 bats!",
    "aaa aaaa abab",  # overlapping-pair + repeated-merge stress
    "zzz",
    "42 !!! ??",  # no alphabetic run at all -> count 0
]


def scalar_bpe(texts: list[str], n_merges: int):
    """Reference implementation: plain Python, no Spark, no SQL."""
    wt = collections.Counter(
        w for t in texts for w in re.findall("[a-z]+", t.lower())
    )
    st = {w: "<" + "><".join(w) + ">" for w in wt}
    merges = []
    for rank in range(n_merges):
        pc: collections.Counter = collections.Counter()
        for w, c in wt.items():
            syms = st[w][1:-1].split("><")
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, a, b, n))
        for w in st:
            st[w] = st[w].replace(f"<{a}><{b}>", f"<{a}{b}>")
    return merges, st


def _df(spark, texts=CORPUS):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def test_merges_match_scalar_reference(spark):
    merges, st = T.bpe_train(_df(spark), n_merges=12)
    ref_merges, ref_state = scalar_bpe(CORPUS, 12)
    assert [tuple(m) for m in merges] == ref_merges
    got_state = {r["word"]: r["seq"] for r in st.collect()}
    assert got_state == ref_state


def test_over_cap_loop_keeps_one_checkpoint(spark, monkeypatch):
    """The distributed merge loop truncates lineage with a local checkpoint
    every _BPE_CKPT_EVERY rounds; each one supersedes the last, so only the
    checkpoint the returned state reads stays persisted."""
    monkeypatch.setattr(T, "_BPE_DRIVER_MAX_TYPES", 0)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    merges, st = T.bpe_train(_df(spark), n_merges=24)
    assert len(set(jsc.getPersistentRDDs().keys()) - before) <= 1
    ref_merges, ref_state = scalar_bpe(CORPUS, 24)
    assert [tuple(m) for m in merges] == ref_merges
    assert {r["word"]: r["seq"] for r in st.collect()} == ref_state


def test_doc_counts_match_scalar_reference(spark):
    df = _df(spark)
    _, st = T.bpe_train(df, n_merges=12)
    got = {r["doc_id"]: r["n_bpe_learned"] for r in T.bpe_doc_token_counts(df, st).collect()}
    _, ref_state = scalar_bpe(CORPUS, 12)
    want = {
        i: sum(
            len(ref_state[w][1:-1].split("><"))
            for w in re.findall("[a-z]+", t.lower())
        )
        for i, t in enumerate(CORPUS)
    }
    assert got == want
    assert got[8] == 0  # the no-alphabetic doc survives with count 0


def test_partitioning_invariance(spark):
    """Merges derive from corpus CONTENT only: any repartitioning of the
    input produces the identical merge sequence (the cluster-size
    invariance the north rule's span-sequence equality demands)."""
    a, _ = T.bpe_train(_df(spark).repartition(16), n_merges=8)
    b, _ = T.bpe_train(_df(spark).coalesce(1), n_merges=8)
    assert a == b


def test_overlap_semantics_leftmost_greedy(spark):
    """'aaaa' under merge (a,a) must become (aa)(aa), and 'aaa' (aa)(a) —
    the scan-resumes-after-replacement rule, identical in Spark replace,
    Python str.replace, and DuckDB replace."""
    df = spark.createDataFrame([(0, "aaaa aaa aa")], "doc_id long, text string")
    merges, st = T.bpe_train(df, n_merges=1)
    assert [(m[1], m[2]) for m in merges] == [("a", "a")]
    state = {r["word"]: r["seq"] for r in st.collect()}
    assert state["aaaa"] == "<aa><aa>"
    assert state["aaa"] == "<aa><a>"
    assert state["aa"] == "<aa>"


def test_early_exhaustion(spark):
    """Single-char vocabulary: after merging everything mergeable the
    train loop stops early instead of spinning."""
    df = spark.createDataFrame([(0, "ab ab ab")], "doc_id long, text string")
    merges, _ = T.bpe_train(df, n_merges=10)
    # 'ab' -> one merge possible, then no adjacent pairs remain
    assert len(merges) == 1 and (merges[0][1], merges[0][2]) == ("a", "b")


def test_tokenize_unseen_words(spark):
    """bpe_tokenize_words applies the ranked merge chain to words NOT in
    the training corpus, matching the scalar replace chain."""
    merges, _ = T.bpe_train(_df(spark), n_merges=12)
    unseen = ["thematic", "catsat", "qqq"]
    wdf = spark.createDataFrame([(w,) for w in unseen], "word string")
    got = {r["word"]: list(r["bpe_tokens"]) for r in T.bpe_tokenize_words(wdf, merges).collect()}
    for w in unseen:
        seq = "<" + "><".join(w) + ">"
        for _, a, b, _n in merges:
            seq = seq.replace(f"<{a}><{b}>", f"<{a}{b}>")
        assert got[w] == seq[1:-1].split("><"), w


def test_duckdb_twin_matches(spark):
    """The unrolled materialized-CTE oracle trains the IDENTICAL merge
    table and per-doc counts (the driver's correctness gate for the
    token_stats BPE leg)."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{t}')" for i, t in enumerate(CORPUS) if "'" not in t)
        + ") v(doc_id, text)"
    )
    texts = [t for t in CORPUS if "'" not in t]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    merges, st = T.bpe_train(df, n_merges=10)
    dm = con.execute(T.bpe_merges_sql(10)).fetchall()
    assert [tuple(m) for m in merges] == [tuple(r) for r in dm]
    got = {r["doc_id"]: r["n_bpe_learned"] for r in T.bpe_doc_token_counts(df, st).collect()}
    dc = dict(con.execute(T.bpe_doc_counts_sql(10)).fetchall())
    assert got == dc


def test_tokenize_arrow_engine_identical(spark):
    """The Arrow kernel (used past _BPE_EXPR_MAX_MERGES rules, where the
    chained-replace expression would hit the codegen ceiling) must produce
    IDENTICAL tokens to the JVM replace chain."""
    merges, _ = T.bpe_train(_df(spark), n_merges=12)
    wdf = spark.createDataFrame(
        [(w,) for w in ["thematic", "catsat", "qqq", "aaaaab", "x"]], "word string"
    )
    jvm = {r["word"]: list(r["bpe_tokens"])
           for r in T.bpe_tokenize_words(wdf, merges, arrow=False).collect()}
    arrow = {r["word"]: list(r["bpe_tokens"])
             for r in T.bpe_tokenize_words(wdf, merges, arrow=True).collect()}
    assert jvm == arrow


def test_tokenize_auto_switch_threshold(spark):
    """> _BPE_EXPR_MAX_MERGES rules auto-routes to the Arrow kernel (plan
    shows MapInPandas, not a replace chain)."""
    big = [(i, "q", "q", 1) for i in range(T._BPE_EXPR_MAX_MERGES + 1)]
    wdf = spark.createDataFrame([("qq",)], "word string")
    df = T.bpe_tokenize_words(wdf, big)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    small = [(0, "q", "q", 1)]
    plan2 = T.bpe_tokenize_words(wdf, small)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan2
