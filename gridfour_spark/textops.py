"""Text-analysis + deduplication operators over the documents table.

Large-scale training-data pipeline operators, Spark-first:
- token counting, quality scoring, language-ID heuristic: pure column
  expressions (split/size/filter/transform higher-order functions — JVM-side,
  no Python).
- document fingerprinting: min-of-shingle-hashes (winnowing-style) using md5
  over word shingles — md5 exists in both Spark and DuckDB, and MIN over hex
  strings is total-ordered, so the oracle can replicate it exactly.
- exact dedup: hash-groupBy on md5(text).
- MinHash + LSH near-dup: k independent min-hashes h_i = MIN(md5(i||'#'||shingle)),
  banded into LSH buckets; bucket-join yields candidate pairs; candidates are
  verified with exact shingle-set Jaccard. All joins are equi-joins on bucket
  keys — the standard shuffle-safe near-dup shape at 10^12 docs (no pairwise
  cross join ever materializes).
- SimHash: 64-bit signature carried as four 16-bit chunk columns, built
  entirely from JVM column expressions (md5 -> hex-digit bit sums -> sign
  packing) — portable to the DuckDB oracle, zero Python in the hot path.

Every hash is derived from document CONTENT only — stable across partitioning
and cluster size.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gridfour_spark import graph

N_MINHASH = 8  # 2 bands x 4 rows (small-SF default; see lsh_params for scale)
SHINGLE = 3

# The signature/shingle frames inside the lazy dedup pipelines are persisted:
# several join sides consume them, so they must be materialized, and the
# returned DataFrames are lazy, so nothing inside the function can unpersist
# them. Such a frame is cached for the session, keyed by plan: Spark's
# CacheManager finds an equal plan already cached and reuses it, and the
# entry lives until spark.catalog.clearCache() or the session stops.


def lsh_params(
    n_docs: int,
    threshold: float,
    background_jaccard: float = 0.05,
    miss_prob: float = 0.1,
    max_k: int = 512,
) -> tuple[int, int]:
    """(k, bands) as a function of corpus size — the scale knob the fixed
    k=8/b=2 default lacks.

    rows-per-band r: expected random-collision candidates stay ~linear —
    a band collides for background pairs with prob J_bg^r, so r >=
    ln(n_docs)/ln(1/J_bg) keeps expected collisions per doc <= 1.
    bands b: detection prob for a true pair at `threshold` is
    1-(1-t^r)^b >= 1-miss_prob. k = r*b, capped at max_k (the cap trades
    recall, never correctness: verification is exact Jaccard downstream).
    At n=1e12/t=0.5 this yields r~10, b in the hundreds — hundreds of
    hashes IS the honest cost of 0.5-threshold LSH at that scale."""
    r = max(2, math.ceil(math.log(max(n_docs, 2)) / math.log(1.0 / background_jaccard)))
    p_band = threshold**r
    b = max(2, math.ceil(math.log(miss_prob) / math.log(max(1.0 - p_band, 1e-300))))
    if r * b > max_k:
        b = max(2, max_k // r)
    return r * b, b


# --------------------------------------------------------------------------
# column builders (Spark) + SQL twins (DuckDB)
# --------------------------------------------------------------------------

def with_tokens(docs: DataFrame) -> DataFrame:
    return docs.withColumn("words", F.split(F.col("text"), " "))


# BPE-ish tokenizer: letter runs, single digits, and single non-alnum marks
# (the GPT-2 pre-tokenizer shape without the merges table — merges are
# model weights, not an operator; the REGEX pre-split is the operator).
_BPE_ISH_PATTERN = "[a-z]+|[A-Z]+|[0-9]|[^a-zA-Z0-9 ]"
# crude subword estimate: a word of length L costs ceil(L/4) units (the
# ~4-chars-per-BPE-token rule of thumb); deterministic, both dialects
_SUBWORD_CHUNK = 4


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting + quality scoring: whitespace tokens, BPE-ish regex
    tokens, subword estimate, distinct/stopword ratios, mean word length —
    all JVM higher-order functions / regexp (no Python)."""
    d = with_tokens(docs)
    n_words = F.size("words")
    n_distinct = F.size(F.array_distinct("words"))
    n_stop = F.size(F.filter("words", lambda w: w.isin("the", "a")))
    total_chars = F.aggregate("words", F.lit(0), lambda acc, w: acc + F.length(w))
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_ISH_PATTERN), F.lit(0)))
    n_sub = F.aggregate(
        "words", F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / float(_SUBWORD_CHUNK)).cast("int"),
    )
    return d.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_sub.cast("long").alias("n_subword_est"),
        n_distinct.cast("long").alias("n_distinct"),
        F.round(n_distinct.cast("double") / n_words, 6).alias("distinct_ratio"),
        F.round(n_stop.cast("double") / n_words, 6).alias("stopword_ratio"),
        F.round(total_chars.cast("double") / n_words, 6).alias("mean_word_len"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id, lang,
       len(words) AS n_words,
       len(regexp_extract_all(text, '{_BPE_ISH_PATTERN}')) AS n_bpe_tokens,
       CAST(list_sum(list_transform(words, w -> CAST(ceil(length(w) / {float(_SUBWORD_CHUNK)}) AS INTEGER))) AS BIGINT) AS n_subword_est,
       len(list_distinct(words)) AS n_distinct,
       ROUND(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6) AS distinct_ratio,
       ROUND(CAST(len(list_filter(words, w -> w = 'the' OR w = 'a')) AS DOUBLE) / len(words), 6) AS stopword_ratio,
       ROUND(CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / len(words), 6) AS mean_word_len
FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS words FROM documents)
"""


def corpus_word_logprob(docs: DataFrame) -> DataFrame:
    """Per-doc mean unigram log-probability under the CORPUS's own unigram
    model — the distributed quality-scoring shape (a KenLM-style scorer
    with the corpus itself as the model): one map-side-combined frequency
    aggregation, the frequency table broadcast back (bucketed join instead
    when the vocabulary outgrows broadcast at web scale), explode + join +
    per-doc aggregate. Low (very negative) scores flag gibberish/rare-token
    documents; high scores flag repetitive boilerplate."""
    w = with_tokens(docs).select("doc_id", F.explode("words").alias("word"))
    freq = w.groupBy("word").agg(F.count("*").alias("n_word"))
    total = freq.agg(F.sum("n_word").alias("n_total"))
    probs = freq.crossJoin(F.broadcast(total)).select(
        "word", (F.col("n_word").cast("double") / F.col("n_total")).alias("p")
    )
    j = w.join(F.broadcast(probs), on="word")
    return j.groupBy("doc_id").agg(
        F.round(F.avg(F.log("p")), 6).alias("mean_logprob"),
        F.round(F.min(F.log("p")), 6).alias("min_logprob"),
    )


CORPUS_LOGPROB_SQL = """
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
freq AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
probs AS (SELECT word, CAST(n AS DOUBLE) / (SELECT SUM(n) FROM freq) AS p FROM freq)
SELECT doc_id, ROUND(AVG(ln(p)), 6) AS mean_logprob, ROUND(MIN(ln(p)), 6) AS min_logprob
FROM w JOIN probs USING (word) GROUP BY doc_id
"""


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: marker-word frequencies -> argmax label.

    The synthetic corpus is a word soup, so the markers are two function
    words; what matters is the OPERATOR SHAPE (per-doc token histogram ->
    deterministic argmax with a fixed tie order), which is the real n-gram
    lang-ID shape with the model table swapped out."""
    d = with_tokens(docs)
    the_n = F.size(F.filter("words", lambda w: w == "the"))
    a_n = F.size(F.filter("words", lambda w: w == "a"))
    pred = (
        F.when(the_n > a_n, F.lit("en-the"))
        .when(a_n > the_n, F.lit("en-a"))
        .otherwise(F.lit("und"))
    )
    return d.select(
        "doc_id", "lang",
        the_n.cast("long").alias("n_the"), a_n.cast("long").alias("n_a"),
        pred.alias("lang_pred"),
    )


LANG_ID_SQL = """
SELECT doc_id, lang,
       len(list_filter(words, w -> w = 'the')) AS n_the,
       len(list_filter(words, w -> w = 'a')) AS n_a,
       CASE WHEN len(list_filter(words, w -> w = 'the')) > len(list_filter(words, w -> w = 'a')) THEN 'en-the'
            WHEN len(list_filter(words, w -> w = 'a')) > len(list_filter(words, w -> w = 'the')) THEN 'en-a'
            ELSE 'und' END AS lang_pred
FROM (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents)
"""


def _shingles_expr():
    """Array of 3-word shingle strings (one per start position)."""
    return F.expr(
        f"""
        transform(sequence(0, greatest(size(words) - {SHINGLE}, 0)),
                  i -> array_join(slice(words, i + 1, {SHINGLE}), ' '))
        """
    )


_SHINGLES_SQL = (
    f"list_transform(generate_series(0, greatest(len(words) - {SHINGLE}, 0)), "
    f"i -> array_to_string(list_slice(words, i + 1, i + {SHINGLE}), ' '))"
)


def fingerprint(docs: DataFrame) -> DataFrame:
    """Winnowing-style document fingerprint: MIN over md5(shingle)."""
    d = with_tokens(docs).withColumn("shingles", _shingles_expr())
    return d.select(
        "doc_id",
        F.array_min(F.transform("shingles", lambda s: F.md5(F.to_binary(s, F.lit("utf-8"))))).alias(
            "fingerprint"
        ),
        F.size("shingles").cast("long").alias("n_shingles"),
    )


FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_min(list_transform(shingles, s -> md5(s))) AS fingerprint,
       len(shingles) AS n_shingles
FROM (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
)
"""


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: canonical id = min(doc_id) per hash.
    One map-side-combined groupBy — the 10^12-doc shape."""
    h = docs.select("doc_id", F.md5(F.to_binary("text", F.lit("utf-8"))).alias("text_hash"))
    return h.groupBy("text_hash").agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_doc_id
FROM documents GROUP BY 1
"""


def with_minhash(docs: DataFrame, k: int = N_MINHASH) -> DataFrame:
    """k min-hash signatures per doc via Kirsch-Mitzenmacher double hashing:
    ONE md5 per shingle yields h1 (hex chars 1-15, 60 bits) and h2 (hex
    chars 16-28, 52 bits, forced odd); hash family h_i = h1 + i*h2 (no
    overflow for k <= 256), mh_i = MIN over the shingle set.

    The KM family preserves the MinHash collision property (Kirsch &
    Mitzenmacher 2006 — standard production practice) at 1/k of the digest
    cost: md5 dominated the old k-pass signature wall-clock (8 digests per
    shingle; measured 44 s -> the md5 pass is the near_dup bottleneck at
    sf0.1). md5 + integer arithmetic keeps the DuckDB oracle portable."""
    d = with_tokens(docs).withColumn("shingles", _shingles_expr())
    d = d.withColumn(
        "_hp",
        F.expr(
            "transform(shingles, s -> named_struct("
            " 'h1', CAST(conv(substring(md5(to_binary(s, 'utf-8')), 1, 15), 16, 10) AS BIGINT),"
            " 'h2', CAST(conv(substring(md5(to_binary(s, 'utf-8')), 16, 13), 16, 10) AS BIGINT) | 1"
            "))"
        ),
    )
    def _km(i: int):
        # single-arg lambda on purpose: F.transform passes (element, index)
        # to two-arg callables, which would silently shadow the hash index
        return lambda p: p["h1"] + i * p["h2"]

    d = d.withColumns({f"mh{i}": F.array_min(F.transform("_hp", _km(i))) for i in range(k)})
    return d.drop("_hp")


def _minhash_sql_cols(k: int = N_MINHASH) -> str:
    h1 = "CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)"
    h2 = "(CAST(concat('0x', substr(md5(s), 16, 13)) AS BIGINT) | 1)"
    return ", ".join(
        f"list_min(list_transform(shingles, s -> {h1} + {i} * {h2})) AS mh{i}"
        for i in range(k)
    )


def minhash_bands(docs: DataFrame, k: int = N_MINHASH, bands: int = 2) -> DataFrame:
    """LSH bands: band_j = md5(concat of its rows). Docs sharing any band
    value are near-dup candidates."""
    d = with_minhash(docs, k)
    r = k // bands
    outs = []
    for b in range(bands):
        cols = [f"mh{i}" for i in range(b * r, (b + 1) * r)]
        outs.append(
            d.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.md5(
                    F.to_binary(
                        F.concat_ws("#", *[F.col(c).cast("string") for c in cols]),
                        F.lit("utf-8"),
                    )
                ).alias("bucket"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def minhash_bands_sql(k: int = N_MINHASH, bands: int = 2, docs_src: str = "documents") -> str:
    r = k // bands
    base = f"""
      SELECT doc_id, {_minhash_sql_cols(k)}
      FROM (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM ({docs_src}))
      )
    """
    parts = []
    for b in range(bands):
        cols = " || '#' || ".join(
            f"CAST(mh{i} AS VARCHAR)" for i in range(b * r, (b + 1) * r)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM ({base})"
        )
    return " UNION ALL ".join(parts)


def near_dup_candidates(
    docs: DataFrame, k: int = N_MINHASH, bands: int = 2, n_salts: int = 1
) -> DataFrame:
    """Distinct LSH candidate pairs (doc_a < doc_b) from the band bucket join.

    n_salts > 1 activates hot-bucket salting (the skew.salted_join pattern
    applied to a self-join): the left side takes a deterministic content
    salt, the right side replicates to every salt, so a bucket of size B
    becomes n_salts join tasks of B/n_salts x B instead of one B x B task.
    Result-identical to the unsalted join — each (a, b) pair meets exactly
    once, on (band, bucket, salt_of_a)."""
    # PERSIST the signatures: the self-join consumes this frame on both
    # sides (and again under distinct), and Spark re-derives the whole
    # shingle->minhash pipeline per consumer otherwise (measured 40s vs
    # 0.3s at sf0.1). At web scale this is the checkpoint-the-signatures
    # step every production LSH pipeline has; rows are (doc_id, band,
    # bucket) — tiny relative to the corpus. Cached for the session, keyed
    # by plan: a repeat call on the same docs reuses it.
    bandsdf = minhash_bands(docs, k, bands).persist()
    if n_salts <= 1:
        cand = bandsdf.alias("l").join(bandsdf.alias("r"), on=["band", "bucket"])
    else:
        l = bandsdf.withColumn(
            "salt", F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_salts)).cast("int")
        )
        r = bandsdf.withColumn(
            "salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
        )
        cand = l.alias("l").join(r.alias("r"), on=["band", "bucket", "salt"])
    return (
        cand.where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def near_dup_pairs(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    k: int = N_MINHASH,
    bands: int = 2,
    n_salts: int = 1,
) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact shingle Jaccard.

    bucket-join (equi-join, shuffle on bucket) -> distinct candidate pairs ->
    join back shingle sets -> exact Jaccard filter. No cross join anywhere.
    At 10^12 docs: size (k, bands) with lsh_params(n_docs, threshold), salt
    hot buckets with n_salts, and run exact dedup FIRST
    (near_dup_pairs_dedup_first) so identical-text cliques — the dominant
    hot-bucket source in web corpora — collapse before LSH."""
    cand = near_dup_candidates(docs, k, bands, n_salts)
    # persisted for the same reason as the signature frame: consumed twice
    # (a/b sides of the verification join) on different keys, so no
    # exchange reuse is possible
    sh = (
        with_tokens(docs)
        .withColumn("shingles", _shingles_expr())
        .select("doc_id", F.array_distinct("shingles").alias("sset"), F.size(F.array_distinct("shingles")).alias("n"))
        .persist()
    )
    joined = (
        cand.join(sh.alias("a"), cand.doc_a == F.col("a.doc_id"))
        .join(sh.alias("b"), cand.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("a.sset", "b.sset")).cast("long").alias("n_common"),
            F.col("a.n").cast("long").alias("n_a"),
            F.col("b.n").cast("long").alias("n_b"),
        )
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return joined.withColumn("jaccard", F.round(jac, 6)).filter(F.col("jaccard") >= jaccard_threshold)


def near_dup_pairs_sql(jaccard_threshold: float = 0.5, docs_src: str = "documents") -> str:
    bands = minhash_bands_sql(docs_src=docs_src)
    return f"""
WITH bands AS ({bands}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
  WHERE l.doc_id < r.doc_id
),
sh AS (
  SELECT doc_id, list_distinct(shingles) AS sset, len(list_distinct(shingles)) AS n
  FROM (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM ({docs_src}))
  )
)
SELECT doc_a, doc_b, n_common, n_a, n_b, ROUND(jac, 6) AS jaccard
FROM (
  SELECT doc_a, doc_b,
         len(list_intersect(a.sset, b.sset)) AS n_common, a.n AS n_a, b.n AS n_b,
         CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
           / (a.n + b.n - len(list_intersect(a.sset, b.sset))) AS jac
  FROM cand JOIN sh a ON cand.doc_a = a.doc_id JOIN sh b ON cand.doc_b = b.doc_id
)
WHERE ROUND(jac, 6) >= {jaccard_threshold}
"""


def canonical_docs(docs: DataFrame) -> DataFrame:
    """Exact-dedup projection: one canonical doc per distinct text
    (canonical id = min doc_id). The mandatory stage BEFORE LSH at web
    scale — identical-text cliques otherwise make every band bucket they
    occupy quadratic."""
    return docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id", "text")


CANONICAL_DOCS_SQL = "SELECT MIN(doc_id) AS doc_id, text FROM ({src}) GROUP BY text"


def near_dup_pairs_dedup_first(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    k: int = N_MINHASH,
    bands: int = 2,
    n_salts: int = 1,
) -> DataFrame:
    """Production composition: exact dedup -> LSH near-dup over canonical
    texts. Pair counts stay bounded by CONTENT diversity, not copy counts:
    a text duplicated a million times contributes one LSH row instead of a
    10^12-pair bucket."""
    return near_dup_pairs(canonical_docs(docs), jaccard_threshold, k, bands, n_salts)


def near_dup_dedup_first_sql(jaccard_threshold: float = 0.5, docs_src: str = "documents") -> str:
    return near_dup_pairs_sql(
        jaccard_threshold, docs_src=CANONICAL_DOCS_SQL.format(src=docs_src)
    )


# --------------------------------------------------------------------------
# SimHash — fully JVM-side column expressions, DuckDB-portable
# --------------------------------------------------------------------------
# Word hash = first 16 hex chars of md5(word) (64 bits). Per doc, per bit j:
# sum of +/-1 over word occurrences (term-frequency-weighted SimHash); the
# sign becomes signature bit j. The signature is carried as FOUR 16-bit
# chunk keys ck0..ck3 — exactly the LSH bands — so banding, hamming popcount
# and the DuckDB oracle all stay in portable integer SQL. No Python anywhere.

def simhash_chunks(docs: DataFrame) -> DataFrame:
    """doc_id -> (ck0..ck3): 16-bit SimHash chunks, all JVM expressions.

    explode words -> md5 -> 16 hex-digit values -> 64 signed bit sums
    (map-side-combined groupBy) -> sign bits packed per 16-bit chunk."""
    w = with_tokens(docs).select("doc_id", F.explode("words").alias("word"))
    w = w.withColumn("h", F.md5(F.to_binary("word", F.lit("utf-8"))))
    dvs = [
        F.conv(F.substring("h", p + 1, 1), 16, 10).cast("int").alias(f"dv{p}")
        for p in range(16)
    ]
    w = w.select("doc_id", *dvs)
    aggs = []
    for j in range(64):
        p, k = j // 4, j % 4
        bit = F.shiftright(F.col(f"dv{p}"), 3 - k).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{j}"))
    s = w.groupBy("doc_id").agg(*aggs)
    cks = []
    for ci in range(4):
        e = F.lit(0)
        for b in range(16):
            e = e + F.when(F.col(f"s{16 * ci + b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        cks.append(e.cast("int").alias(f"ck{ci}"))
    return s.select("doc_id", *cks)


def simhash_chunks_sql(docs_src: str = "documents") -> str:
    """DuckDB twin of simhash_chunks (same md5 -> digit -> bit -> sign math)."""
    dvs = ", ".join(
        f"(strpos('0123456789abcdef', substr(h, {p + 1}, 1)) - 1) AS dv{p}"
        for p in range(16)
    )
    sums = ", ".join(
        f"SUM(CASE WHEN ((dv{j // 4} >> {3 - j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(64)
    )
    cks = ", ".join(
        "CAST("
        + " + ".join(f"CASE WHEN s{16 * ci + b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16))
        + f" AS INTEGER) AS ck{ci}"
        for ci in range(4)
    )
    return f"""
      SELECT doc_id, {cks} FROM (
        SELECT doc_id, {sums} FROM (
          SELECT doc_id, {dvs} FROM (
            SELECT doc_id, md5(word) AS h FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM ({docs_src})
            )
          )
        ) GROUP BY doc_id
      )
    """


def simhash_near_dup(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup candidates: the 4 chunk keys ARE the LSH bands
    (pigeonhole: every pair with hamming <= 3 shares some chunk); candidates
    equi-join per band, verify with exact per-chunk popcount hamming."""
    # persisted like the minhash signature frame: the chunk self-join (and
    # distinct) otherwise re-runs the 64-bit-sum aggregation per consumer
    s = simhash_chunks(docs).persist()
    bands = None
    for ci in range(4):
        part = s.select(
            "doc_id", "ck0", "ck1", "ck2", "ck3",
            F.lit(ci).alias("chunk"), F.col(f"ck{ci}").alias("ckey"),
        )
        bands = part if bands is None else bands.unionAll(part)
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), on=["chunk", "ckey"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            *[F.col(f"l.ck{ci}").alias(f"a{ci}") for ci in range(4)],
            *[F.col(f"r.ck{ci}").alias(f"b{ci}") for ci in range(4)],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a{ci}").bitwiseXOR(F.col(f"b{ci}"))) for ci in range(4)
    )
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_near_dup_sql(max_hamming: int = 8, docs_src: str = "documents") -> str:
    chunks = simhash_chunks_sql(docs_src)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, ck0, ck1, ck2, ck3, {ci} AS chunk, ck{ci} AS ckey FROM chunks"
        for ci in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a{ci}, b{ci}))" for ci in range(4))
    return f"""
WITH chunks AS ({chunks}),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.ck0 AS a0, l.ck1 AS a1, l.ck2 AS a2, l.ck3 AS a3,
         r.ck0 AS b0, r.ck1 AS b1, r.ck2 AS b2, r.ck3 AS b3
  FROM bands l JOIN bands r ON l.chunk = r.chunk AND l.ckey = r.ckey
  WHERE l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, CAST({ham} AS BIGINT) AS hamming
FROM cand WHERE {ham} <= {max_hamming}
"""


def dedup_clusters(pairs: DataFrame, max_iters: int = 64) -> DataFrame:
    """Near-dup PAIRS -> connected-component CLUSTERS: (doc_id, cluster_id,
    cluster_size) with cluster_id = the MIN doc id reachable through the
    pair graph (the canonical representative a training pipeline keeps).

    Up to graph._CC_LOCAL_MAX_EDGES pairs one graph.cc_kernel task labels
    the whole graph and counts each component's nodes. Above it:
    distributed min-label propagation with POINTER DOUBLING and
    shortcut-edge augmentation over the symmetrized pairs. Each round (a)
    every node takes the min label over itself and its neighbors (one edge
    join + partial-aggregated groupBy min), (b) labels jump to their
    label's label (one self-join), and (c) every node's (node <-> label)
    link joins the edge set for the next round. Without (c) a long path
    with randomly ordered ids stalls on local-minimum plateaus
    (tests/test_cc.py); with it the reachable ball doubles per round, so
    convergence is O(log diameter) on adversarial orderings too. The edge
    set grows by <= |V| links per round and is re-distinct-ed, staying
    O(|E| + |V| log D).

    Converges when no label changes; raises RuntimeError if max_iters is
    exhausted instead of returning under-merged labels. Each round ends in
    localCheckpoint(): a self-referencing plan otherwise grows exponentially
    (each round embeds the previous join tree twice) until Catalyst OOMs,
    and on a cluster it caps a lost executor's recovery at one round. Each
    round releases the label and edge frames it supersedes; only the last
    label frame, which the result reads, outlives the call, and none does
    when a step raises."""
    # the one evaluation of `pairs`: its cached projection feeds either
    # path, and the no-op write that caches it also counts it
    P = pairs.select(F.col("doc_a").alias("_va"), F.col("doc_b").alias("_vb")).persist()
    E = L = newL = None
    try:
        n_pairs = Observation()
        _materialize(P.observe(n_pairs, F.count(F.lit(1)).alias("n")))
        # a pair graph up to the one CC cap resolves in ONE executor task
        # (graph.cc_kernel) instead of O(log D) doubling rounds of ~5 jobs
        # each — identical labels by construction (rep = min node of the
        # component; the kernel ignores edge direction and duplicates, so
        # the raw pairs are its input). The cap bounds the rows that task
        # receives. The distributed doubling below is the over-cap path.
        if n_pairs.get["n"] <= graph._CC_LOCAL_MAX_EDGES:
            L = graph.one_task_clusters(P).select(
                F.col("node").alias("doc_id"),
                F.col("rep").alias("cluster_id"),
                F.col("size").alias("cluster_size"),
            ).persist()
            _materialize(L)  # before dropping P's cache (L reads P)
            return L
        E = P.select(F.col("_va").alias("src"), F.col("_vb").alias("dst"))
        E = E.unionByName(
            E.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct().persist()
        # persist (not checkpoint) for the input frames: their lineage is one
        # shot — only the ITERATION output needs truncation. (localCheckpoint
        # directly over the LSH pipeline's plan also trips a Catalyst
        # AttributeMap bug in Spark 4.1 — round-5 finding.)
        L = (
            E.select(F.col("src").alias("doc_id")).distinct()
            .withColumn("label", F.col("doc_id"))
            .persist()
        )
        for _ in range(max_iters):
            prop = E.join(L, E.src == L.doc_id).select(
                F.col("dst").alias("doc_id"), "label"
            )
            newL = prop.unionByName(L.select("doc_id", "label")).groupBy("doc_id").agg(
                F.min("label").alias("label")
            )
            # pointer doubling: label <- label(label)
            newL = _checkpoint(
                newL.alias("x")
                .join(
                    newL.select(
                        F.col("doc_id").alias("_lid"), F.col("label").alias("_ll")
                    ),
                    F.col("x.label") == F.col("_lid"),
                    "left",
                )
                .select(
                    F.col("x.doc_id"),
                    F.coalesce(F.col("_ll"), F.col("x.label")).alias("label"),
                )
            )
            changed = (
                newL.alias("n")
                .join(L.alias("o"), "doc_id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            _release(L)  # superseded: newL is materialized
            L = newL
            if changed == 0:
                break
            # shortcut augmentation: next round's neighborhoods include each
            # node's current best-known representative, so min information
            # travels the label links as well as the original edges
            links = L.filter(F.col("doc_id") != F.col("label")).select(
                F.col("doc_id").alias("src"), F.col("label").alias("dst")
            )
            newE = _checkpoint(
                E.unionByName(links)
                .unionByName(links.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
                .distinct()
            )
            _release(E)
            E = newE
        else:
            raise RuntimeError(
                f"dedup_clusters: no fixpoint after {max_iters} rounds — "
                "component diameter exceeds 2^rounds, raise max_iters"
            )
    except BaseException:
        for df in (L, newL):
            if df is not None:
                _release(df)
        raise
    finally:
        _release(P)
        if E is not None:
            _release(E)
    sizes = L.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return L.join(sizes, "label").select(
        "doc_id", F.col("label").alias("cluster_id"), "cluster_size"
    )


def _materialize(df: DataFrame) -> None:
    """Run `df` to its end: a no-op write builds a persisted frame's cache
    without the extra shuffle stage and job of a count()."""
    df.write.format("noop").mode("overwrite").save()


def _release(df: DataFrame) -> None:
    """Unpersist a frame; a localCheckpoint() frame's blocks are its RDD's."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _checkpoint(df: DataFrame) -> DataFrame:
    """`df.localCheckpoint(eager=True)`, releasable with _release. Spark
    persists the checkpoint RDD before its job runs, so when the job raises
    no handle to that RDD reaches the caller: unpersist the RDDs the call
    registered before re-raising."""
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    try:
        return df.localCheckpoint(eager=True)
    except BaseException:
        for rid, rdd in jsc.getPersistentRDDs().items():
            if rid not in before:
                rdd.unpersist(False)
        raise


def dedup_clusters_sql(jaccard_threshold: float = 0.3, docs_src: str = "documents") -> str:
    """DuckDB twin: transitive closure of the near-dup pair graph via a
    recursive CTE, cluster_id = MIN reachable id (self included)."""
    pairs = near_dup_pairs_sql(jaccard_threshold, docs_src=docs_src)
    return f"""
WITH RECURSIVE pair_base AS (
  SELECT doc_a, doc_b FROM ({pairs})
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pair_base
  UNION
  SELECT doc_b, doc_a FROM pair_base
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
lbl AS (
  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM lbl l
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
      FROM lbl GROUP BY cluster_id) s USING (cluster_id)
"""


def kmv_distinct(df: DataFrame, group_col: str, value_col: str, k: int = 64) -> DataFrame:
    """K-minimum-values (KMV) distinct sketch per group — the bottom-k
    cousin of HLL with an exactly-reproducible estimator (DuckDB twin
    hash-matches, unlike approx_count_distinct's opaque registers).

    Hash each value to 60 bits (the md5/conv idiom shared with MinHash);
    keep the k SMALLEST distinct hashes per group; estimate
    (k-1) / h_(k)-normalized when a group saturates, exact distinct count
    otherwise. The kept set is MERGEABLE (union two groups' keeps, re-cut
    to k — pinned in tests), which is what makes the sketch a shuffle-
    friendly partial aggregate at 100-TB scale: partitions keep k hashes
    per group locally and only those merge."""
    h = F.conv(
        F.substring(
            F.md5(F.to_binary(F.col(value_col).cast("string"), F.lit("utf-8"))), 1, 15
        ),
        16, 10,
    ).cast("long")
    hashes = df.select(F.col(group_col).alias("g"), h.alias("h")).distinct()
    w = Window.partitionBy("g").orderBy("h")
    kept = hashes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    scale = float(2**60)
    return kept.groupBy("g").agg(
        F.count("*").alias("n_kept"),
        F.max("h").alias("kth_hash"),
    ).select(
        F.col("g").alias(group_col),
        "n_kept",
        "kth_hash",
        F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(
            F.floor(F.lit(float(k - 1)) * F.lit(scale) / F.col("kth_hash") + 0.5)
        ).cast("long").alias("est_distinct"),
    )


def kmv_distinct_sql(group_col: str, value_expr: str, src: str, k: int = 64) -> str:
    """DuckDB twin: identical hash, bottom-k cut, and estimator."""
    return f"""
WITH vals AS (SELECT {group_col} AS g, {value_expr} AS v FROM ({src})),
hashes AS (
  SELECT DISTINCT g, CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM vals
),
kept AS (
  SELECT g, h FROM (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM hashes
  ) WHERE rn <= {k}
)
SELECT g AS {group_col}, COUNT(*) AS n_kept, MAX(h) AS kth_hash,
       CAST(CASE WHEN COUNT(*) < {k} THEN COUNT(*)
                 ELSE floor({float(k - 1)!r} * {float(2**60)!r} / MAX(h) + 0.5)
            END AS BIGINT) AS est_distinct
FROM kept GROUP BY g
"""


# --------------------------------------------------------------------------
# learned tokenizer: distributed BPE training (round 7)
# --------------------------------------------------------------------------
#
# Classic byte-pair-encoding training (Sennrich et al. 2016, "Neural Machine
# Translation of Rare Words with Subword Units") re-expressed Spark-first:
#
#   1. ONE corpus-scale aggregation builds the word-TYPE table (word, count)
#      — the only pass that ever touches the documents table.  At 10^12
#      docs this is a map-side-combined groupBy; `min_count` trims the
#      Zipf tail so the type table stays executor-resident (~10^7-10^8
#      types even at web scale).
#   2. Each of the `n_merges` rounds aggregates adjacent-pair counts over
#      the TYPE table (weighted by word count), picks the argmax pair
#      (1-row collect — driver-coordinated merge selection, the same shape
#      as IVF's Lloyd iterations), and applies the merge to every type.
#   3. The learned merge table (n_merges rows) broadcasts; per-doc token
#      counts are a broadcast join of doc words against the final
#      tokenized types — no Python in any hot path.
#
# Merge application uses the delimited-string form '<h><e><l><l><o>' and
# ONE string replace per round: replace('<a><b>' -> '<ab>') is exactly
# leftmost-greedy non-overlapping merging (scan resumes AFTER each
# replacement, so 'aaa' + (a,a) -> ('aa','a'), per the reference
# algorithm), and it is the SAME primitive in Spark, DuckDB, and Python —
# which is what lets bpe_oracle_sql() unroll the full training loop into a
# CTE chain the driver's DuckDB gate can run, and lets the pytest scalar
# reference be a 20-line pure-Python loop.  Merges are ranked by
# (count DESC, pair_a ASC, pair_b ASC) so ties are deterministic across
# engines and cluster sizes.  Scope: merges are learned over lowercase
# alphabetic word types ('[a-z]+' runs — the letter-run branch of the
# BPE-ish pre-tokenizer above); no end-of-word marker.

_BPE_WORD_RE = "[a-z]+"


def _bpe_seq_col():
    """word -> '<c1><c2>...<cn>' delimited symbol string."""
    chars = F.regexp_extract_all(F.col("word"), F.lit("[a-z]"), F.lit(0))
    return F.concat(F.lit("<"), F.array_join(chars, "><"), F.lit(">"))


def bpe_word_types(docs: DataFrame, min_count: int = 1) -> DataFrame:
    """(word, cnt, seq): the type table BPE training iterates over."""
    w = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_WORD_RE), F.lit(0))
        ).alias("word")
    )
    wt = w.groupBy("word").agg(F.count("*").alias("cnt"))
    if min_count > 1:
        wt = wt.filter(F.col("cnt") >= min_count)
    return wt.withColumn("seq", _bpe_seq_col())


def _bpe_pair_counts(st: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts over the type table, weighted by cnt.
    Counts every adjacent position (overlapping included), as the
    reference get_stats does. The symbol array is a separate projection
    (round 8): referenced four times below, the split would otherwise be
    inlined and re-tokenize the sequence per reference."""
    syms = st.select(
        F.col("cnt"),
        F.expr("split(substring(seq, 2, length(seq) - 2), '><')").alias("_syms"),
    )
    pairs = F.arrays_zip(
        F.expr("slice(_syms, 1, size(_syms) - 1)"),
        F.expr("slice(_syms, 2, size(_syms) - 1)"),
    )
    p = syms.select(F.col("cnt"), F.explode(pairs).alias("p"))
    return p.groupBy(
        F.col("p.0").alias("a"), F.col("p.1").alias("b")
    ).agg(F.sum("cnt").alias("n"))


def bpe_train(
    docs: DataFrame, n_merges: int = 16, min_count: int = 1
) -> tuple[list, DataFrame]:
    """Train BPE merges on the corpus.

    Returns (merges, final_state): merges = [(rank, a, b, count)...] and
    the final type table (word, cnt, seq) with all merges applied.

    Round 8, second pass (the round-7 weak-#2 fix): the merge LOOP runs on
    the DRIVER over the collected type table whenever the vocabulary fits
    (`_BPE_DRIVER_MAX_TYPES`).  BPE training state is the TYPE table —
    bounded by distinct-word count, not corpus size (the one distributed
    job that builds it is the only corpus-scale work) — which is exactly
    the working set every practical BPE trainer holds in memory.  The
    driver loop replays the identical selection rule (pair counts weighted
    by cnt, overlapping positions included; max n, then lexicographically
    smallest (a, b) — Python's str ordering equals Spark's UTF8 binary
    ordering because UTF-8 byte order preserves code-point order) and the
    identical application rule (str.replace == JVM replace-all:
    left-to-right, non-overlapping), so merges and final state are
    bit-identical to the distributed loop (pinned by the scalar-reference
    tests and the driver's CTE-chain oracle).  n_merges Spark jobs — the
    round-7 sequential-job wall — become ONE bounded collect of the type
    table regardless of n_merges, and the corpus is aggregated once.

    Vocabularies past the threshold keep the distributed loop: one Spark
    job per merge round, lazy chained-replace application, lineage
    truncated every `_BPE_CKPT_EVERY` rounds."""
    spark = docs.sparkSession
    # one bounded collect is both the size test and the driver path's input:
    # at most cap + 1 rows reach the driver, and the extra row marks an
    # over-cap table. The cache lets that table's checkpoint reuse the one
    # aggregation of the corpus; it is released before returning.
    types_df = bpe_word_types(docs, min_count=min_count).persist()
    try:
        rows = types_df.limit(_BPE_DRIVER_MAX_TYPES + 1).collect()
        if len(rows) > _BPE_DRIVER_MAX_TYPES:
            rows = None
            st = ckpt = _checkpoint(types_df)
    finally:
        types_df.unpersist()
    if rows is not None:
        types = [(r["word"], int(r["cnt"]), r["seq"]) for r in rows]
        merges = []
        for rank in range(n_merges):
            counts: dict = {}
            for _w, cnt, seq in types:
                syms = seq[1:-1].split("><")
                for i in range(len(syms) - 1):
                    key = (syms[i], syms[i + 1])
                    counts[key] = counts.get(key, 0) + cnt
            if not counts:
                break
            (a, b), n = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, a, b, int(n)))
            pat, rep = f"<{a}><{b}>", f"<{a}{b}>"
            types = [(w, cnt, seq.replace(pat, rep)) for w, cnt, seq in types]
        final = spark.createDataFrame(types, "word string, cnt long, seq string")
        return merges, final

    merges = []
    since_ckpt = 0
    try:
        for rank in range(n_merges):
            best = (
                _bpe_pair_counts(st)
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
            merges.append((rank, a, b, n))
            st = st.withColumn(
                "seq", F.replace(F.col("seq"), F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
            )
            since_ckpt += 1
            if since_ckpt >= _BPE_CKPT_EVERY:
                new = _checkpoint(st)
                _release(ckpt)  # superseded: the new checkpoint is materialized
                st = ckpt = new
                since_ckpt = 0
    except BaseException:
        _release(ckpt)  # the one checkpoint the returned frame would read
        raise
    return merges, st


# lineage-truncation cadence for bpe_train: far below the 48-replace
# codegen ceiling, and every checkpoint skipped is one Spark job saved
_BPE_CKPT_EVERY = 8

# largest type table the driver-side merge loop will collect (~50 B/type
# -> ~100 MB at the cap, well inside the 8 GiB driver); bigger
# vocabularies take the distributed per-round loop
_BPE_DRIVER_MAX_TYPES = 2_000_000


def bpe_doc_token_counts(docs: DataFrame, final_state: DataFrame) -> DataFrame:
    """Per-doc learned-BPE token count: explode doc words, broadcast-join
    the tokenized type table, sum token counts.  Docs whose text has no
    '[a-z]+' run (or only sub-min_count types) count 0 via the left join."""
    ntok = final_state.select(
        "word",
        F.size(F.expr("split(substring(seq, 2, length(seq) - 2), '><')")).alias("ntok"),
    )
    dw = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_WORD_RE), F.lit(0))
        ).alias("word"),
    )
    per_doc = (
        dw.join(F.broadcast(ntok), on="word")
        .groupBy("doc_id")
        .agg(F.sum("ntok").alias("n_bpe_learned"))
    )
    return docs.select("doc_id").join(per_doc, on="doc_id", how="left").select(
        "doc_id", F.coalesce("n_bpe_learned", F.lit(0)).cast("long").alias("n_bpe_learned")
    )


# above this many merges the chained-replace EXPRESSION tree risks the
# 64KB whole-stage-codegen ceiling (the Catalyst landmine the repo pins
# elsewhere); the Arrow kernel takes over there
_BPE_EXPR_MAX_MERGES = 48


def bpe_tokenize_words(
    words: DataFrame, merges: list, word_col: str = "word", arrow: bool | None = None
) -> DataFrame:
    """Tokenize arbitrary (possibly unseen) words with a learned merge
    table.  Adds 'bpe_tokens' array<string>.

    Two result-identical engines: small merge tables apply the ranked
    replace chain as chained JVM string replaces (zero Python); past
    ``_BPE_EXPR_MAX_MERGES`` rules (a real tokenizer has thousands) the
    chain would blow the codegen ceiling, so an Arrow-batched mapInPandas
    kernel applies the broadcast merge list with a per-batch word-type
    cache (Zipf makes the cache hit rate ~1) — same leftmost-greedy
    replace semantics, chosen automatically unless ``arrow`` forces it."""
    if arrow is None:
        arrow = len(merges) > _BPE_EXPR_MAX_MERGES
    if not arrow:
        chars = F.regexp_extract_all(F.col(word_col), F.lit("[a-z]"), F.lit(0))
        seq = F.concat(F.lit("<"), F.array_join(chars, "><"), F.lit(">"))
        for _, a, b, _n in merges:
            seq = F.replace(seq, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
        df = words.withColumn("_seq", seq)
        return df.withColumn(
            "bpe_tokens",
            F.expr("split(substring(_seq, 2, length(_seq) - 2), '><')"),
        ).drop("_seq")

    import re as _re

    rules = [(f"<{a}><{b}>", f"<{a}{b}>") for _, a, b, _n in merges]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in words.schema.fields
    ) + ", bpe_tokens array<string>"

    def kernel(batches):
        cache: dict[str, list] = {}

        def tok(w):
            got = cache.get(w)
            if got is None:
                seq = "<" + "><".join(_re.findall("[a-z]", w)) + ">"
                for pat, rep in rules:
                    seq = seq.replace(pat, rep)
                got = seq[1:-1].split("><") if len(seq) > 2 else []
                cache[w] = got
            return got

        for pdf in batches:
            pdf = pdf.copy()
            pdf["bpe_tokens"] = [tok(w) for w in pdf[word_col]]
            yield pdf

    return words.mapInPandas(kernel, out_schema)


def bpe_oracle_sql(n_merges: int = 16, src: str = "documents", min_count: int = 1) -> str:
    """DuckDB twin of the ENTIRE training loop + per-doc counts: the
    n_merges rounds unrolled into a CTE chain (pair-count aggregate,
    deterministic argmax, string-replace merge application — the same
    three steps, same tie-break, same replace semantics as bpe_train)."""
    mc = f"HAVING COUNT(*) >= {min_count}" if min_count > 1 else ""
    ctes = [
        f"""wt AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{_BPE_WORD_RE}')) AS word FROM {src}
  ) GROUP BY word {mc}
)""",
        """st0 AS MATERIALIZED (
  SELECT word, cnt,
         '<' || array_to_string(regexp_extract_all(word, '[a-z]'), '><') || '>' AS seq
  FROM wt
)""",
    ]
    for k in range(n_merges):
        ctes.append(f"""pr{k} AS MATERIALIZED (
  SELECT l[i] AS a, l[i + 1] AS b, SUM(cnt) AS n FROM (
    SELECT cnt, l, unnest(generate_series(1, len(l) - 1)) AS i FROM (
      SELECT cnt, string_split(substr(seq, 2, length(seq) - 2), '><') AS l FROM st{k}
    )
  ) GROUP BY 1, 2
)""")
        ctes.append(f"""best{k} AS MATERIALIZED (
  SELECT a, b, n FROM pr{k} ORDER BY n DESC, a ASC, b ASC LIMIT 1
)""")
        ctes.append(f"""st{k + 1} AS MATERIALIZED (
  SELECT word, cnt,
         replace(seq,
                 coalesce((SELECT '<' || a || '><' || b || '>' FROM best{k}), chr(1)),
                 coalesce((SELECT '<' || a || b || '>' FROM best{k}), '')) AS seq
  FROM st{k}
)""")
    return "WITH " + ",\n".join(ctes)


def bpe_doc_counts_sql(n_merges: int = 16, src: str = "documents", min_count: int = 1) -> str:
    """Per-doc learned-token counts on DuckDB (joins the unrolled-training
    final state)."""
    return f"""{bpe_oracle_sql(n_merges, src, min_count)},
final_len AS (
  SELECT word, len(string_split(substr(seq, 2, length(seq) - 2), '><')) AS ntok
  FROM st{n_merges}
),
dw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_BPE_WORD_RE}')) AS word
  FROM {src}
),
per_doc AS (
  SELECT doc_id, SUM(ntok) AS n FROM dw JOIN final_len USING (word) GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(per_doc.n, 0) AS BIGINT) AS n_bpe_learned
FROM (SELECT doc_id FROM {src}) d LEFT JOIN per_doc USING (doc_id)
"""


def bpe_merges_sql(n_merges: int = 16, src: str = "documents", min_count: int = 1) -> str:
    """The learned merge table itself on DuckDB (rank, pair_a, pair_b,
    pair_count) — lets the driver hash-compare the MERGES, not just the
    counts they induce."""
    sels = " UNION ALL ".join(
        f"SELECT {k} AS merge_rank, a AS pair_a, b AS pair_b, CAST(n AS BIGINT) AS pair_count FROM best{k}"
        for k in range(n_merges)
    )
    return f"{bpe_oracle_sql(n_merges, src, min_count)}\n{sels}"




# --------------------------------------------------------------------------
# learned language classifier (round 7): distributed multinomial Naive
# Bayes over character trigrams
# --------------------------------------------------------------------------
#
# The learned rung above the marker-word lang_id heuristic — the classic
# pre-neural language-identification model (char-n-gram multinomial NB
# with add-1 smoothing), trained DISTRIBUTED in one pass:
#
#   - gram extraction is a JVM transform/explode (no Python);
#   - training = two map-side-combined aggregations (per-(lang, gram)
#     counts and per-lang totals) — the only corpus-scale reductions;
#   - the smoothed log-probability grid is |V| x |langs| rows (tiny even
#     for web-scale char-gram vocabularies) and BROADCASTS back for
#     scoring: one broadcast join + one per-doc aggregate + an argmax
#     window.  At 10^12 docs nothing shuffles except the two count aggs.
#
# Determinism across engines: scores are ln-sums rounded to 6 decimals
# (the same discipline corpus_word_logprob has kept hash-green for six
# rounds); the argmax tie-breaks on (score DESC, lang ASC) after
# rounding, and class priors are all distinct here, so the DuckDB twin
# reproduces predictions exactly.  Closed-form training — no iterative
# float recurrence — is what makes a LEARNED model driver-gate-checkable.

NB_GRAM = 3


def _nb_grams_col(n: int = NB_GRAM):
    t = F.lower(F.col("text"))
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.substr(t, i, F.lit(n)))


def nb_train(docs: DataFrame, n: int = NB_GRAM) -> tuple:
    """Train multinomial NB on the corpus's lang labels: returns
    (grid, priors) — the smoothed log-prob grid (lang, g, logp), |V| x
    |langs| rows, and the log-prior table. Both broadcast at scoring."""
    dg = docs.select("doc_id", "lang", F.explode(_nb_grams_col(n)).alias("g"))
    gram_counts = dg.groupBy("lang", "g").agg(F.count("*").alias("ng"))
    class_tot = dg.groupBy("lang").agg(
        F.count("*").alias("nc"), F.count_distinct("doc_id").alias("ndoc")
    )
    vocab = dg.select("g").distinct()
    # V and N are single-row aggregates (broadcast crosses, sanctioned)
    v_n = vocab.agg(F.count("*").alias("V")).crossJoin(
        docs.agg(F.count("*").alias("N"))
    )
    grid = (
        vocab.crossJoin(F.broadcast(class_tot))
        .join(gram_counts, on=["lang", "g"], how="left")
        .crossJoin(F.broadcast(v_n))
        .select(
            "lang", "g",
            F.log(
                (F.coalesce("ng", F.lit(0)) + 1).cast("double")
                / (F.col("nc") + F.col("V"))
            ).alias("logp"),
        )
    )
    priors = class_tot.crossJoin(F.broadcast(v_n)).select(
        "lang", F.log(F.col("ndoc").cast("double") / F.col("N")).alias("prior")
    )
    return grid, priors


def nb_score(docs: DataFrame, grid: DataFrame, priors: DataFrame, n: int = NB_GRAM) -> DataFrame:
    """Score docs (possibly UNSEEN — a held-out split or new data) against
    a trained (grid, priors): (doc_id, nb_pred, nb_best_score). Grams not
    in the training vocabulary contribute 0 (dropped by the inner join) —
    the pragmatic unseen-gram rule, consistent across engines."""
    scores = (
        docs.select("doc_id", F.explode(_nb_grams_col(n)).alias("g"))
        .join(F.broadcast(grid), on="g")
        .groupBy("doc_id", "lang")
        .agg(F.sum("logp").alias("s"))
        .join(F.broadcast(priors), on="lang")
        .select("doc_id", "lang", F.round(F.col("s") + F.col("prior"), 6).alias("s"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("lang"))
    return (
        scores.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("nb_pred"),
            F.col("s").alias("nb_best_score"),
        )
    )


def nb_train_score(docs: DataFrame, n: int = NB_GRAM) -> DataFrame:
    """Train on the corpus and score every doc (the driver-gate shape:
    self-scoring on the training corpus)."""
    grid, priors = nb_train(docs, n)
    return nb_score(docs, grid, priors, n)


def nb_oracle_sql(n: int = NB_GRAM, src: str = "documents") -> str:
    """DuckDB twin: identical gram extraction, smoothing grid, priors, and
    rounded-argmax selection."""
    grams = (
        f"list_transform(generate_series(1, greatest(length(lower(text)) - {n - 1}, 1)), "
        f"i -> substr(lower(text), i, {n}))"
    )
    return f"""
WITH dg AS MATERIALIZED (
  SELECT doc_id, lang, unnest({grams}) AS g FROM {src}
),
gram_counts AS (SELECT lang, g, COUNT(*) AS ng FROM dg GROUP BY lang, g),
class_tot AS (
  SELECT lang, COUNT(*) AS nc, COUNT(DISTINCT doc_id) AS ndoc FROM dg GROUP BY lang
),
vocab AS (SELECT DISTINCT g FROM dg),
vn AS (SELECT (SELECT COUNT(*) FROM vocab) AS V, (SELECT COUNT(*) FROM {src}) AS N),
grid AS MATERIALIZED (
  SELECT ct.lang, v.g,
         ln(CAST(coalesce(ng, 0) + 1 AS DOUBLE) / (ct.nc + vn.V)) AS logp
  FROM vocab v CROSS JOIN class_tot ct CROSS JOIN vn
  LEFT JOIN gram_counts gc ON gc.lang = ct.lang AND gc.g = v.g
),
priors AS (
  SELECT lang, ln(CAST(ndoc AS DOUBLE) / vn.N) AS prior FROM class_tot CROSS JOIN vn
),
scores AS (
  SELECT doc_id, lang, ROUND(SUM(logp) + ANY_VALUE(prior), 6) AS s
  FROM (SELECT doc_id, unnest({grams}) AS g FROM {src}) d
  JOIN grid USING (g) JOIN priors USING (lang)
  GROUP BY doc_id, lang
)
SELECT doc_id, lang AS nb_pred, s AS nb_best_score
FROM (
  SELECT doc_id, lang, s,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, lang ASC) AS rk
  FROM scores
) WHERE rk = 1
"""
