"""Extended text-analysis operators for training-data pipelines:
language ID, quality scoring, BPE-ish token counting, and document
fingerprinting (driver mandate; beyond the SURVEY.md §2.B core).

All heuristics are corpus-derived (no external models exist in this
environment), fully deterministic, and expressed identically on both
engines:
  * language-ID scores each document against per-language top-token
    profiles learned from the corpus itself;
  * quality scoring combines type-token ratio, stopword ratio and
    length signals (the usual pre-training filters);
  * token counting uses a BPE-ish regex segmentation ([a-z]+ / digit
    runs / single non-space) next to whitespace tokens;
  * fingerprinting is a bottom-k sketch of shingle hashes (the
    winnowing idea) serialized to a join-friendly string.

Scale notes: profiles/stopwords are tiny aggregates (broadcast);
everything else is narrow per-row work or a keyed aggregate. This is
the shape that survives 100 TB: no collect, no all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsmr_spark.compat import r4
from jsmr_spark.queries.common import constants, t
from jsmr_spark.queries.dedup import _hex12, hex12_sql
from jsmr_spark.registry import query

N_PROFILE = 20  # top tokens per language profile
N_STOP = 10  # global stopword list size
BOTTOM_K = 4  # fingerprint sketch size

_LANGID_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    profile AS (
      SELECT lang AS p_lang, token FROM (
        SELECT lang, token, row_number() OVER (
          PARTITION BY lang ORDER BY count(*) DESC, token) AS rnk
        FROM tok GROUP BY lang, token) x
      WHERE rnk <= {N_PROFILE}
    ),
    scores AS (
      SELECT tok.doc_id, profile.p_lang, count(*) AS hits
      FROM tok JOIN profile ON tok.token = profile.token
      GROUP BY tok.doc_id, profile.p_lang
    ),
    best AS (
      SELECT doc_id, p_lang AS predicted_lang, hits,
             row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, p_lang) AS rnk
      FROM scores
    )
    SELECT d.doc_id, d.lang AS actual_lang, b.predicted_lang, b.hits,
           (d.lang = b.predicted_lang) AS correct
    FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rnk = 1
"""


@query("q_text_langid", _LANGID_ORACLE)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-profile language identification: score docs against
    per-language top-20 token profiles, predict argmax."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    w_prof = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    profile = (
        tok.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rnk", F.row_number().over(w_prof))
        .filter(F.col("rnk") <= N_PROFILE)
        .select(F.col("lang").alias("p_lang"), "token")
    )
    scores = (
        tok.join(F.broadcast(profile), "token")
        .groupBy("doc_id", "p_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("p_lang"))
    best = (
        scores.withColumn("rnk", F.row_number().over(w_best))
        .filter(F.col("rnk") == 1)
        .select("doc_id", F.col("p_lang").alias("predicted_lang"), "hits")
    )
    return (
        docs.select("doc_id", F.col("lang").alias("actual_lang"))
        .join(best, "doc_id")
        .withColumn("correct", F.col("actual_lang") == F.col("predicted_lang"))
        .select("doc_id", "actual_lang", "predicted_lang", "hits", "correct")
    )


_QUALITY_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    stop AS (
      SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rnk
        FROM tok GROUP BY token) x
      WHERE rnk <= {N_STOP}
    ),
    per_doc AS (
      SELECT t.doc_id,
             count(*) AS n_tokens,
             count(DISTINCT t.token) AS n_distinct,
             count(CASE WHEN s.token IS NOT NULL THEN 1 END) AS n_stop
      FROM tok t LEFT JOIN stop s ON t.token = s.token
      GROUP BY t.doc_id
    )
    SELECT d.doc_id, p.n_tokens, p.n_distinct, p.n_stop,
           CAST(p.n_distinct AS DOUBLE) / p.n_tokens AS ttr,
           CAST(p.n_stop AS DOUBLE) / p.n_tokens AS stop_ratio,
           CAST(d.n_chars AS DOUBLE) / p.n_tokens AS avg_token_chars,
           (CAST(p.n_distinct AS DOUBLE) / p.n_tokens) * 0.5
             + (CAST(p.n_stop AS DOUBLE) / p.n_tokens) * 0.3
             + (CASE WHEN p.n_tokens >= 50 THEN 0.2 ELSE 0.0 END) AS quality_score
    FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id
"""


@query("q_text_quality", _QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality filters: type-token ratio, stopword ratio,
    length prior, combined score (identical double arithmetic both
    engines — ratios of exact ints, fixed combination order)."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    # Top-N_STOP tokens via orderBy().limit() — executes as
    # TakeOrderedAndProject (per-partition heaps + one k-row merge)
    # instead of a single-partition row_number window over the entire
    # distinct vocabulary; the rank was only ever used as a filter, so
    # the surviving rows (and the hash) are identical.
    stop = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(N_STOP)
        .select("token", F.lit(1).alias("is_stop"))
    )
    per_doc = (
        tok.join(F.broadcast(stop), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("token").alias("n_distinct"),
            F.count("is_stop").alias("n_stop"),
        )
    )
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return (
        docs.select("doc_id", "n_chars")
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "n_stop",
            ttr.alias("ttr"),
            stop_ratio.alias("stop_ratio"),
            (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("avg_token_chars"),
            (
                ttr * 0.5
                + stop_ratio * 0.3
                + F.when(F.col("n_tokens") >= 50, 0.2).otherwise(0.0)
            ).alias("quality_score"),
        )
    )


@query(
    "q_text_token_bpe",
    r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_runs,
           CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS n_symbols
    FROM documents
    """,
)
def q_text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens vs BPE-ish regex segmentation
    (letter runs / digit runs / single symbols) — the cheap proxy for
    tokenizer cost estimation over a corpus."""
    txt = F.col("text")
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(txt, " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(txt, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.size(F.regexp_extract_all(txt, F.lit(r"[0-9]+"), F.lit(0))).cast("long").alias("n_number_runs"),
        F.size(F.regexp_extract_all(txt, F.lit(r"[^a-z0-9 ]"), F.lit(0))).cast("long").alias("n_symbols"),
    )


_FINGERPRINT_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS s FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, sg FROM (
        SELECT doc_id,
               unnest(list_transform(s[1:len(s)-2],
                                     (x, i) -> concat(x, ' ', s[i+1], ' ', s[i+2]))) AS sg
        FROM docs) u
    ),
    hv AS (SELECT doc_id, sg, {hex12_sql("md5(sg)")} AS hv FROM sh),
    ranked AS (
      SELECT doc_id, hv,
             row_number() OVER (PARTITION BY doc_id ORDER BY hv, sg) AS rnk
      FROM hv
    ),
    fp AS (
      SELECT doc_id,
             array_to_string(list(CAST(hv AS VARCHAR) ORDER BY hv), ',') AS fingerprint
      FROM ranked WHERE rnk <= {BOTTOM_K}
      GROUP BY doc_id
    )
    SELECT f.doc_id, f.fingerprint,
           count(*) OVER (PARTITION BY f.fingerprint) AS n_docs_sharing
    FROM fp f
"""


@query("q_text_fingerprint", _FINGERPRINT_ORACLE)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: bottom-4 sketch of shingle hashes joined to
    a string key; sharing count flags near-identical documents (the
    join-key form of MinHash dedup)."""
    from jsmr_spark.queries.dedup import _shingle_sets

    # hvs is already the distinct shingle-hash set per doc, so the
    # bottom-K sketch is a NARROW sort+slice over each array — no
    # window shuffle, no re-aggregation. The oracle's extra sg tiebreak
    # only matters under a within-doc 48-bit collision (~1e-11/doc, and
    # it would merely reorder equal hv values — the fingerprint string
    # of equal values is unchanged).
    fp = _shingle_sets(spark, sf_dir).select(
        "doc_id",
        F.array_join(
            F.slice(F.array_sort("hvs"), 1, BOTTOM_K).cast("array<string>"), ","
        ).alias("fingerprint"),
    )
    return fp.withColumn(
        "n_docs_sharing", F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
    )


BENCH_MOD = 100  # doc_id % BENCH_MOD == BENCH_RESIDUE -> held-out benchmark
BENCH_RESIDUE = 7

_DECONTAM_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS s FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, {hex12_sql("md5(sg)")} AS hv FROM (
        SELECT doc_id,
               unnest(list_transform(s[1:len(s)-2],
                                     (x, i) -> concat(x, ' ', s[i+1], ' ', s[i+2]))) AS sg
        FROM docs) u
    ),
    bench AS (
      SELECT DISTINCT hv FROM sh WHERE doc_id % {BENCH_MOD} = {BENCH_RESIDUE}
    )
    SELECT s.doc_id, count(*) AS n_shared_shingles
    FROM sh s JOIN bench b USING (hv)
    WHERE s.doc_id % {BENCH_MOD} <> {BENCH_RESIDUE}
    GROUP BY s.doc_id
"""


@query("q_text_decontam", _DECONTAM_ORACLE)
def q_text_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    3-gram shingle with a held-out benchmark set (here the deterministic
    doc_id % 100 == 7 slice stands in for the eval suite) — the n-gram
    overlap filter every serious pretraining pipeline runs before
    training (the GPT-3/PaLM appendix procedure, expressed relationally).

    Plan shape at 100 TB: the benchmark side is tiny by construction
    (eval suites are MBs against a 100 TB corpus), so its distinct
    shingle-hash set broadcasts; the corpus side is the same one-wide-
    exchange shingle-set diet every dedup key shares (jsmr_spark
    dedup.py:_shingles — cached collect_set reused across this family),
    and the overlap count is a map-side-combined count per doc. No
    shuffle grows with corpus size except the shingle build itself."""
    from jsmr_spark.queries.dedup import _shingles

    sh = _shingles(spark, sf_dir)
    is_bench = (F.col("doc_id") % BENCH_MOD) == BENCH_RESIDUE
    bench = F.broadcast(sh.filter(is_bench).select("hv").distinct())
    return (
        sh.filter(~is_bench)
        .join(bench, "hv")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


REP_THRESHOLD = 0.2  # duplicate-shingle fraction above which a doc is flagged

_REPETITION_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS s FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT doc_id,
             list_transform(s[1:len(s)-2],
                            (x, i) -> concat(x, ' ', s[i+1], ' ', s[i+2])) AS sg
      FROM docs
    )
    SELECT doc_id,
           CAST(len(sg) AS BIGINT) AS n_shingles,
           CAST(len(list_distinct(sg)) AS BIGINT) AS n_unique,
           CAST(len(sg) - len(list_distinct(sg)) AS DOUBLE) / len(sg) AS dup_fraction,
           (CAST(len(sg) - len(list_distinct(sg)) AS DOUBLE) / len(sg)) > {REP_THRESHOLD} AS repetitious
    FROM sh
"""


@query("q_text_repetition", _REPETITION_ORACLE)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition filter (the Gopher-style duplicate
    n-gram rule): fraction of a document's 3-gram shingles that are
    repeats of an earlier shingle in the SAME document — boilerplate,
    keyword-stuffed, and looping generator output score high and get
    flagged before training.

    Distinct from the dedup family (which compares ACROSS documents):
    this needs no join, no aggregation, no shuffle of any kind — one
    narrow HOF map over the scan (shingle array -> distinct -> counts),
    embarrassingly parallel at any corpus size. dup_fraction is a
    double ratio of exact ints, identical on both engines."""
    toks = F.split(F.col("text"), " ")
    shingle_expr = (
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
    )
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.expr(shingle_expr).alias("sg"))
    )
    n_sh = F.size("sg").cast("long")
    n_uniq = F.size(F.array_distinct("sg")).cast("long")
    dup_frac = (n_sh - n_uniq).cast("double") / n_sh
    return d.select(
        "doc_id",
        n_sh.alias("n_shingles"),
        n_uniq.alias("n_unique"),
        dup_frac.alias("dup_fraction"),
        (dup_frac > REP_THRESHOLD).alias("repetitious"),
    )


TOP_BIGRAMS = 5


@query(
    "q_text_ngram_lm",
    f"""
    WITH toks AS (
      SELECT lang, string_split(text, ' ') AS l FROM documents
    ),
    bg AS (
      SELECT lang,
             unnest(list_transform(list_slice(l, 1, len(l)-1),
                                   (x, i) -> x || ' ' || l[i+1])) AS bigram
      FROM toks WHERE len(l) >= 2
    ),
    cnt AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY lang, bigram)
    SELECT lang, bigram, n, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
      FROM cnt
    ) x WHERE rnk <= {TOP_BIGRAMS}
    """,
)
def q_text_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model statistics: per-language bigram
    counts with the top-{TOP_BIGRAMS} most frequent bigrams ranked
    (count desc, bigram asc — fully deterministic).

    These counts ARE the n-gram LM every classic quality filter is
    built on (KenLM-style perplexity scoring starts from exactly this
    table); the per-doc consumers already shipped (q_text_repetition's
    dup-3-gram fraction, q_text_decontam's shingle sets) share the same
    diet. Shape: bigram construction is a NARROW zip of the token array
    with its own tail — no explode-then-self-join; the only shuffle is
    the (lang, bigram) count, and the per-lang top-k window reads the
    counted (small) side."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = (
        t(spark, sf_dir, "documents")
        .filter(n >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
    )
    cnt = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return cnt.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_BIGRAMS
    )


@query(
    "q_text_rarity",
    """
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(list_slice(l, 1, len(l)-1),
                                   (x, i) -> x || ' ' || l[i+1])) AS bigram
      FROM toks WHERE len(l) >= 2
    ),
    cnt AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY lang, bigram)
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(CAST(sum(c.n) AS DOUBLE) / count(*), 4) AS avg_bigram_freq
    FROM bg b JOIN cnt c ON b.lang = c.lang AND b.bigram = c.bigram
    GROUP BY b.doc_id
    """,
)
def q_text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rarity score from the corpus bigram LM: the average
    corpus frequency of the document's bigrams (low = unusual text,
    high = boilerplate) — the quality-filter consumer of
    q_text_ngram_lm's count table, kept EXACT-rational (integer count
    sum / integer bigram count, one division, r4) instead of a log
    perplexity so the hash is immune to cross-engine libm drift in ln().

    Shape: one (lang,bigram) count shuffle builds the LM, one keyed
    join streams every doc-bigram past it, one doc_id aggregate. At
    100 TB the LM table is vocabulary-sized (skew-free keys); if it
    fits, broadcast it and the scoring pass is narrow."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = (
        t(spark, sf_dir, "documents")
        .filter(n >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
    )
    cnt = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    return (
        bg.join(cnt, ["lang", "bigram"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            r4(F.sum("n").cast("double") / F.count(F.lit(1))).alias("avg_bigram_freq"),
        )
    )


LINE_CHUNK_WORDS = 10  # the "line" unit: corpus text has no newlines
LINE_DUP_DOCS = 2  # a chunk appearing in >= this many distinct docs is boilerplate


@query(
    "q_text_line_dedup",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    ch AS (
      SELECT doc_id, i,
             array_to_string(w[((i-1)*{LINE_CHUNK_WORDS}+1):(i*{LINE_CHUNK_WORDS})], ' ') AS chunk
      FROM d, UNNEST(range(1, CAST(ceil(len(w) / {LINE_CHUNK_WORDS}.0) AS BIGINT) + 1)) AS u(i)
    ),
    dup AS (
      SELECT chunk AS dchunk FROM ch
      GROUP BY chunk HAVING count(DISTINCT doc_id) >= {LINE_DUP_DOCS}
    )
    SELECT ch.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE dup.dchunk IS NULL) AS BIGINT) AS n_kept,
           coalesce(string_agg(ch.chunk, ' ' ORDER BY ch.i)
                      FILTER (WHERE dup.dchunk IS NULL), '') AS text_deduped
    FROM ch LEFT JOIN dup ON ch.chunk = dup.dchunk
    GROUP BY ch.doc_id
    """,
)
def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document boilerplate-line removal (the C4/RefinedWeb rule:
    drop any line that repeats across the corpus, from every document
    it appears in). This corpus has no newlines, so the "line" unit is
    the non-overlapping {LINE_CHUNK_WORDS}-word chunk; a chunk seen in
    >= {LINE_DUP_DOCS} distinct documents is boilerplate and every
    occurrence is removed, then each document is reassembled from its
    surviving chunks in original order (possibly to the empty string —
    documents are never dropped, so downstream accounting still sees
    them).

    Complements the dedup family: q_dedup_exact removes whole duplicate
    documents; this removes duplicated SPANS from otherwise-unique
    documents — the navboxes/footers/cookie-banners of a web corpus.

    Shape at 100 TB: chunking is a narrow HOF map (no explode until the
    count); the boilerplate census group-bys the 16-byte md5 of each
    chunk (never the chunk string) with a map-side-combined distinct-doc
    count; marking is one hash join chunk->dup-set on the same 16-byte
    key (the dup set is boilerplate-sized, often broadcastable — left
    as a shuffle join because "often" is not "always" at 100 TB); and
    reassembly is one keyed shuffle per doc bounded by document size.
    Nothing is quadratic and no driver state exists."""
    w = F.split(F.col("text"), " ")
    n_chunks_expr = F.ceil(F.size("w") / F.lit(float(LINE_CHUNK_WORDS))).cast("int")
    chunk_expr = (
        f"transform(sequence(1, n_ch), "
        f"i -> struct(i, concat_ws(' ', slice(w, (i-1)*{LINE_CHUNK_WORDS}+1, {LINE_CHUNK_WORDS})) AS chunk))"
    )
    chunks = (
        t(spark, sf_dir, "documents")
        .select("doc_id", w.alias("w"))
        .withColumn("n_ch", n_chunks_expr)
        .select("doc_id", F.explode(F.expr(chunk_expr)).alias("c"))
        .select("doc_id", F.col("c.i").alias("i"), F.col("c.chunk").alias("chunk"))
        .withColumn("hv", F.md5("chunk"))
    )
    dup = (
        chunks.groupBy("hv")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= LINE_DUP_DOCS)
        .select("hv", F.lit(True).alias("is_dup"))
    )
    marked = chunks.join(dup, "hv", "left").withColumn(
        "keep", F.col("is_dup").isNull()
    )
    kept_sorted = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct("i", "chunk")))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
            kept_sorted.alias("ks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.concat_ws(" ", F.expr("transform(ks, x -> x.chunk)")).alias("text_deduped"),
        )
    )


# --- overlapping token-window chunking (round 6) ----------------------

CHUNK_W = 64  # window: tokens per chunk
CHUNK_S = 48  # stride: 16-token overlap between consecutive chunks


@query(
    "q_text_chunk",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    k AS (
      SELECT doc_id, tk, n,
             CASE WHEN n <= {CHUNK_W} THEN 1
                  ELSE (n - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S} + 1
             END AS n_chunks
      FROM toks
    ),
    ex AS (
      SELECT doc_id, tk, n, unnest(range(0, n_chunks)) AS ci FROM k
    ),
    sl AS (
      SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
             CAST(ci * {CHUNK_S} AS BIGINT) AS start_tok,
             tk[CAST(ci * {CHUNK_S} + 1 AS INT) : CAST(ci * {CHUNK_S} + {CHUNK_W} AS INT)] AS chunk
      FROM ex
    )
    SELECT doc_id, chunk_idx, start_tok,
           CAST(len(chunk) AS INT) AS n_chunk_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM sl
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the document-splitting step
    every RAG index and long-context training pipeline runs before
    embedding/packing: windows of {CHUNK_W} tokens at stride {CHUNK_S}
    (16-token overlap), whitespace tokenization (the repo's portable
    tokenizer), chunk identity pinned by md5 of the joined window so a
    dropped token, off-by-one stride, or wrong tail truncation anywhere
    fails the hash.

    Chunk count is pure integer algebra (1 if n <= W else
    ceil((n-W)/S)+1 — every token covered, last window truncates), so
    both engines derive identical rows with no float anywhere.

    Shape at 100 TB: split -> sequence -> explode -> slice is one
    narrow map per document, no shuffle at all; chunk rows land
    partition-local and downstream embedding/packing stages key them
    by (doc_id, chunk_idx). Cost is linear in corpus tokens times the
    W/S overlap factor (~1.33x here)."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("tk"),
        F.size(F.split("text", " ")).alias("n"),
    )
    k = toks.withColumn(
        "n_chunks",
        F.when(F.col("n") <= CHUNK_W, F.lit(1)).otherwise(
            F.floor((F.col("n") - CHUNK_W + CHUNK_S - 1) / CHUNK_S).cast("int") + 1
        ),
    )
    ex = k.select(
        "doc_id",
        "tk",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("ci"),
    )
    sl = ex.select(
        "doc_id",
        F.col("ci").cast("int").alias("chunk_idx"),
        (F.col("ci").cast("long") * CHUNK_S).alias("start_tok"),
        F.slice("tk", F.col("ci") * CHUNK_S + 1, F.lit(CHUNK_W)).alias("chunk"),
    )
    return sl.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size("chunk").alias("n_chunk_tokens"),
        F.md5(F.array_join("chunk", " ").cast("binary")).alias("chunk_md5"),
    )


# --- bigram-LM perplexity scoring (round 6) ---------------------------

PPL_SCALE = 1_000_000  # fixed-point grid for per-bigram log-probs


@query(
    "q_text_perplexity",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(list_slice(l, 1, len(l)-1),
                                   (x, i) -> x || ' ' || l[i+1])) AS bigram
      FROM toks WHERE len(l) >= 2
    ),
    cnt AS (SELECT lang, bigram, count(*) AS c FROM bg GROUP BY lang, bigram),
    uni AS (
      SELECT lang, string_split(bigram, ' ')[1] AS w1,
             sum(c) AS c1
      FROM cnt GROUP BY lang, w1
    ),
    vocab AS (
      SELECT lang, count(DISTINCT tok) AS v
      FROM (SELECT lang, unnest(l) AS tok FROM toks)
      GROUP BY lang
    ),
    scored AS (
      SELECT cnt.lang, cnt.bigram,
             ln((CAST(cnt.c AS DOUBLE) + 1.0)
                / CAST(uni.c1 + vocab.v AS DOUBLE)) AS lp
      FROM cnt
      JOIN uni ON uni.lang = cnt.lang
              AND uni.w1 = string_split(cnt.bigram, ' ')[1]
      JOIN vocab ON vocab.lang = cnt.lang
    ),
    q AS (
      SELECT lang, bigram,
             CAST(floor(abs(lp) * {PPL_SCALE} + 0.5) AS BIGINT)
               * (CASE WHEN lp < 0 THEN -1 ELSE 1 END) AS lps
      FROM scored
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(q.lps) AS BIGINT) AS sum_logprob_scaled,
           round(exp(-(CAST(CAST(sum(q.lps) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) / {PPL_SCALE}.0)), 4)
             AS perplexity
    FROM bg b JOIN q ON q.lang = b.lang AND q.bigram = b.bigram
    GROUP BY b.doc_id
    """,
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity — the CCNet/KenLM-style
    quality filter: score every document by the corpus's own add-one-
    smoothed conditional bigram model P(w2|w1) = (c(w1 w2)+1)/(c1(w1)+V)
    and report exp(-avg log P), low = fluent/boilerplate, high =
    unusual text. Completes the LM family next to q_text_ngram_lm (the
    counts) and q_text_rarity (the rational-only score).

    Portability recipe: ln() is <=1ulp libm on both engines (not
    correctly rounded), so each DISTINCT (lang, bigram) log-prob is
    computed once and snapped to a 1e-6 fixed-point BIGINT with the
    repo's half-away formula; per-document aggregation is then an EXACT
    integer sum in any partition order — the same quantize-then-sum
    recipe as q_embed_quantize — and one exp() at presentation. A tie
    at the grid boundary would need the true value within ~1e-16 of a
    half-grid point; the fixtures pin it regardless.

    Shape at 100 TB: two keyed shuffles build the LM (bigram counts,
    first-word totals), a vocab count per lang, one keyed join streams
    every doc-bigram past the vocabulary-sized scored table (broadcast
    when it fits), one doc_id aggregate. No per-row Python anywhere."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    docs = t(spark, sf_dir, "documents")
    bg = docs.filter(n >= 2).select(
        "doc_id", "lang", F.explode(bigrams).alias("bigram")
    )
    cnt = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("c"))
    uni = (
        cnt.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .groupBy("lang", "w1")
        .agg(F.sum("c").alias("c1"))
    )
    vocab = (
        docs.select("lang", F.explode(toks).alias("tok"))
        .groupBy("lang")
        .agg(F.countDistinct("tok").alias("v"))
    )
    lp = F.log(
        (F.col("c").cast("double") + F.lit(1.0))
        / (F.col("c1") + F.col("v")).cast("double")
    )
    scored = (
        cnt.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .join(uni, ["lang", "w1"])
        .join(vocab, "lang")
        .select(
            "lang",
            "bigram",
            (
                F.floor(F.abs(lp) * PPL_SCALE + F.lit(0.5)).cast("long")
                * F.when(lp < 0, F.lit(-1)).otherwise(F.lit(1))
            ).alias("lps"),
        )
    )
    agg = bg.join(scored, ["lang", "bigram"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lps").alias("sum_logprob_scaled"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "sum_logprob_scaled",
        r4(
            F.exp(
                -(
                    F.col("sum_logprob_scaled").cast("double")
                    / F.col("n_bigrams").cast("double")
                    / F.lit(float(PPL_SCALE))
                )
            )
        ).alias("perplexity"),
    )


# --- exact substring-span duplication (Lee et al. 2022 shape) --------

DUPSPAN_W = 8  # tokens per span; spans overlap at stride 1

_DUPSPAN_RATIO = "floor(CAST({d} AS DOUBLE) / CAST({n} AS DOUBLE) * 10000 + 0.5) / 10000.0"


@query(
    "q_text_dup_spans",
    f"""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= {DUPSPAN_W}
    ),
    spans AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(t) - {DUPSPAN_W - 2}),
                    i -> md5(array_to_string(t[i:i + {DUPSPAN_W - 1}], ' ')))) AS h
      FROM tk
    ),
    g AS (SELECT h, doc_id, count(*) AS c FROM spans GROUP BY h, doc_id),
    gt AS (SELECT h, doc_id, c, sum(c) OVER (PARTITION BY h) AS tot FROM g)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN tot > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_spans,
           {_DUPSPAN_RATIO.format(d='sum(CASE WHEN tot > 1 THEN c ELSE 0 END)', n='sum(c)')} AS dup_ratio
    FROM gt GROUP BY doc_id
    """,
)
def q_text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span duplication rate (the signal behind
    suffix-array substring dedup, Lee et al. 2022, arXiv:2107.06499,
    at fixed span width): every overlapping {DUPSPAN_W}-token window is
    fingerprinted, and a doc's dup_ratio is the fraction of its windows
    whose exact text occurs anywhere else in the corpus (other docs OR
    repeated within the doc). Docs under {DUPSPAN_W} tokens have no
    window and are excluded by construction.

    Scale shape: explode is a narrow map (window fingerprints are md5
    of the joined tokens — 16 bytes shuffled per window, never the
    text); ONE shuffle on the fingerprint serves both the per-doc
    partial count and the corpus total (window over the same key — no
    second exchange), then one keyed shuffle back to doc_id. No
    all-pairs anywhere; this is the linear-cost alternative to the
    quadratic suffix-array construction, trading span granularity for
    one-pass distributivity."""
    spans = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= DUPSPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {DUPSPAN_W - 1}),"
                    f" i -> md5(concat_ws(' ', slice(t, i, {DUPSPAN_W}))))"
                )
            ).alias("h"),
        )
    )
    from pyspark.sql import Window

    g = spans.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    gt = g.withColumn("tot", F.sum("c").over(Window.partitionBy("h")))
    dup = F.sum(F.when(F.col("tot") > 1, F.col("c")).otherwise(F.lit(0)))
    n = F.sum("c")
    return gt.groupBy("doc_id").agg(
        n.cast("long").alias("n_spans"),
        dup.cast("long").alias("dup_spans"),
        (
            F.floor(dup.cast("double") / n.cast("double") * 10000 + F.lit(0.5)) / 10000.0
        ).alias("dup_ratio"),
    )


# --- CCNet-style perplexity-tertile corpus bucketing (round 6) --------


def _ccnet_oracle() -> str:
    from jsmr_spark.registry import get_query

    ppl = get_query("q_text_perplexity").oracle
    return f"""
    WITH base AS ({ppl}),
    r AS (
      SELECT b.doc_id, d.lang, b.n_bigrams,
             ntile(3) OVER (
               ORDER BY (-CAST(b.sum_logprob_scaled AS DOUBLE)) / b.n_bigrams,
                        b.doc_id
             ) AS bkt
      FROM base b JOIN documents d USING (doc_id)
    )
    SELECT CASE bkt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS bucket,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
    FROM r GROUP BY bkt, lang
    """


@query("q_text_ccnet_bucket", _ccnet_oracle())
def q_text_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's corpus partition: rank every document by its bigram-LM
    perplexity (q_text_perplexity's exact scaled score) and split the
    corpus into head / middle / tail TERILES — head (lowest perplexity,
    most fluent) is what CCNet keeps for LM training, tail is what the
    quality review samples. Reported per (bucket, lang) with the exact
    doc_id sum pinning MEMBERSHIP of each bucket, not just its size.

    Bucketing is ntile over (score, doc_id), NOT float cutpoints: the
    per-doc score (-sum_logprob_scaled)/n_bigrams is one division from
    exact integers — bit-identical cross-engine — so a pure RANKING
    decision is deterministic, while interpolated percentile cutpoints
    on arbitrary doubles could diverge by an ulp exactly at a bucket
    boundary. The ntile is a corpus-wide sort by construction (ranking
    IS the operator); the 100 TB path computes approximate tertile
    cutpoints from a sample (the q_quantile_bins shape) and trades
    exact boundary membership for a map-only bucket assignment."""
    ppl = q_text_perplexity(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    score = (-F.col("sum_logprob_scaled").cast("double")) / F.col("n_bigrams")
    r = (
        ppl.join(docs, "doc_id")
        .select("doc_id", "lang", "n_bigrams", score.alias("score"))
        .withColumn(
            "bkt",
            F.ntile(3).over(Window.orderBy(F.asc("score"), F.asc("doc_id"))),
        )
    )
    return r.groupBy(
        F.when(F.col("bkt") == 1, "head")
        .when(F.col("bkt") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
        "lang",
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("n_bigrams"),
        F.sum("doc_id").cast("long").alias("doc_id_sum"),
    )



# --- langid confusion matrix (round 6) --------------------------------


def _lang_confusion_oracle() -> str:
    from jsmr_spark.registry import get_query

    langid = get_query("q_text_langid").oracle
    return f"""
    WITH base AS ({langid}),
    cell AS (
      SELECT actual_lang, predicted_lang, count(*) AS n,
             CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
      FROM base GROUP BY actual_lang, predicted_lang
    ),
    act AS (SELECT actual_lang, sum(n) AS n_actual FROM cell GROUP BY 1),
    pred AS (SELECT predicted_lang, sum(n) AS n_predicted FROM cell GROUP BY 1)
    SELECT c.actual_lang, c.predicted_lang, c.n, c.doc_id_sum,
           CAST(c.n * 1000000 // a.n_actual AS BIGINT) AS share_of_actual_ppm,
           CAST(c.n * 1000000 // p.n_predicted AS BIGINT) AS share_of_predicted_ppm
    FROM cell c
    JOIN act a ON a.actual_lang = c.actual_lang
    JOIN pred p ON p.predicted_lang = c.predicted_lang
    """


@query("q_text_lang_confusion", _lang_confusion_oracle())
def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the n-gram language identifier: per
    (actual, predicted) cell the doc count, the exact doc_id sum
    (membership, not just counts), and the row-/column-normalized
    shares in exact ppm — share_of_actual is per-language RECALL on
    the diagonal, share_of_predicted is PRECISION. This is the eval
    readout that tells you WHICH languages the q_text_langid heuristic
    confuses, where its scalar `correct` flag only says how often.

    The oracle composes q_text_langid's registered SQL as a CTE (the
    q_text_ccnet_bucket pattern), so classifier and evaluation can
    never drift apart. All outputs are exact integers (BIGINT floor
    divisions); scale shape is the classifier's own (profile broadcast,
    one doc-keyed aggregate) plus two language-cardinality rollups."""
    base = q_text_langid(spark, sf_dir)
    cell = base.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("doc_id_sum"),
    )
    act = cell.groupBy("actual_lang").agg(F.sum("n").alias("n_actual"))
    pred = cell.groupBy("predicted_lang").agg(F.sum("n").alias("n_predicted"))
    return (
        cell.join(F.broadcast(act), "actual_lang")
        .join(F.broadcast(pred), "predicted_lang")
        .select(
            "actual_lang",
            "predicted_lang",
            "n",
            "doc_id_sum",
            F.expr("CAST(n * 1000000 AS BIGINT) DIV n_actual").alias(
                "share_of_actual_ppm"
            ),
            F.expr("CAST(n * 1000000 AS BIGINT) DIV n_predicted").alias(
                "share_of_predicted_ppm"
            ),
        )
    )


# --- n-gram novelty census (round 6) ----------------------------------


@query(
    "q_text_novelty",
    f"""
    WITH docs AS (
      SELECT doc_id, lang, string_split(text, ' ') AS s FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, {hex12_sql("md5(sg)")} AS hv FROM (
        SELECT doc_id,
               unnest(list_transform(s[1:len(s)-2],
                                     (x, i) -> concat(x, ' ', s[i+1], ' ', s[i+2]))) AS sg
        FROM docs) u
    ),
    g AS (SELECT hv, count(*) AS nd FROM sh GROUP BY hv),
    per_doc AS (
      SELECT sh.doc_id,
             count(*) AS n_sh,
             sum(CASE WHEN g.nd = 1 THEN 1 ELSE 0 END) AS n_novel
      FROM sh JOIN g ON g.hv = sh.hv
      GROUP BY sh.doc_id
    )
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(p.n_sh) AS BIGINT) AS n_shingles,
           CAST(sum(p.n_novel) AS BIGINT) AS n_novel,
           CAST(sum(p.n_novel) * 1000000 // sum(p.n_sh) AS BIGINT) AS novelty_ppm
    FROM per_doc p JOIN docs d ON d.doc_id = p.doc_id
    GROUP BY d.lang
    """,
)
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty census: per language, the exact ppm share of
    document 3-gram shingles that occur NOWHERE else in the corpus —
    the memorization-risk / originality signal next to the duplication
    signals (q_text_dup_spans measures repeats; this measures their
    complement). A language whose novelty collapses is template text;
    one whose novelty is ~1e6 shares no phrasing at all.

    Both engines count over the same 48-bit md5 shingle hashes (the
    MinHash diet), so a hash collision collapsing two shingles is
    identical cross-engine and the counts hash exactly.

    Scale shape: distinct (doc, shingle-hash) rows (8-byte keys), one
    hash-keyed global census, one join of doc-shingles against the
    census keyed on the hash, two keyed rollups — the exact plan
    family as MinHash candidate generation, all narrow maps and keyed
    shuffles."""
    from jsmr_spark.queries.dedup import _shingles

    sh = _shingles(spark, sf_dir)
    g = sh.groupBy("hv").agg(F.count(F.lit(1)).alias("nd"))
    per_doc = (
        sh.join(g, "hv")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.when(F.col("nd") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    langs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        per_doc.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            F.expr(
                "CAST(sum(n_novel) * 1000000 DIV sum(n_sh) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


# --- vocabulary coverage curve (round 7) -------------------------------

VOCAB_KS = (5, 10, 20)  # head sizes to evaluate


def _vocab_coverage_oracle() -> str:
    ks = ", ".join(f"({k})" for k in VOCAB_KS)
    return f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
    rk AS (
      SELECT token, c,
             row_number() OVER (ORDER BY c DESC, token) AS rnk
      FROM cnt
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS vocab FROM cnt
    )
    SELECT k.k,
           CAST(sum(CASE WHEN rk.rnk <= k.k THEN rk.c ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           tot.total AS total_tokens,
           tot.vocab AS vocab_size,
           CAST(sum(CASE WHEN rk.rnk <= k.k THEN rk.c ELSE 0 END) AS BIGINT)
             * 1000000 // tot.total AS coverage_ppm
    FROM rk CROSS JOIN (VALUES {ks}) k(k) CROSS JOIN tot
    GROUP BY k.k, tot.total, tot.vocab
    """


@query("q_text_vocab_coverage", _vocab_coverage_oracle())
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for each head size K, the share of
    all token OCCURRENCES covered by the K most frequent tokens
    (ties broken by token text) — the tokenizer-budget diagnostic a
    pipeline runs before fixing a vocab size: where the curve flattens
    is where a bigger vocabulary stops paying.

    Exactness: counts and the cumulative covered sums are exact
    BIGINTs; coverage is exact ppm by positive-only truncating integer
    division (covered * 1e6 DIV total) — no float anywhere, so the
    hash check is exact.

    Scale shape: one token-keyed hash aggregate (map-side partial)
    collapses the corpus to the distinct vocabulary; the rank window
    runs over the VOCABULARY table, not the corpus — at 100 TB a
    text vocabulary is millions of rows where the corpus is trillions,
    and a one-partition window over millions of counted rows is
    control-plane work. The K fan-out is a 3-row broadcast."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    cnt = toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    rk = cnt.select(
        "token",
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("token")))
        .alias("rnk"),
    )
    tot = cnt.agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    ks = constants(spark, "k int", [(k,) for k in VOCAB_KS])
    covered = F.sum(
        F.when(F.col("rnk") <= F.col("k"), F.col("c")).otherwise(F.lit(0))
    ).cast("long")
    return (
        rk.crossJoin(ks)
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "total", "vocab")
        .agg(covered.alias("covered_tokens"))
        .select(
            "k",
            "covered_tokens",
            F.col("total").alias("total_tokens"),
            F.col("vocab").alias("vocab_size"),
            F.expr("covered_tokens * 1000000 DIV total").alias("coverage_ppm"),
        )
    )


FH_BUCKETS = 64  # hashing-trick feature dimension

_FEATURE_HASH_ORACLE = f"""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY 1, 2),
    b AS (
      SELECT lang, token, c,
             CAST({hex12_sql("md5(token)")} % {FH_BUCKETS} AS INTEGER) AS bucket
      FROM cnt
    )
    SELECT lang, bucket,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(max(c) AS BIGINT) AS max_type_count
    FROM b GROUP BY lang, bucket
"""


@query("q_text_feature_hash", _FEATURE_HASH_ORACLE)
def q_text_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009, "Feature
    Hashing for Large Scale Multitask Learning"): every token maps to
    one of {FH_BUCKETS} buckets via the portable md5-derived hash, and
    the per-(lang, bucket) census — total occurrences, distinct token
    types sharing the bucket, the dominant type's count — is exactly
    the collision profile you audit before shipping a hashed
    bag-of-words model (n_types > 1 rows ARE the collisions). The
    fixed-dimension companion to q_text_tfidf's exact vocabulary.

    Scale shape: tokenize -> (lang, token) hash agg (map-side
    combined, the wordcount shape) -> narrow hash map -> second
    bounded agg (at most {FH_BUCKETS} x languages rows). No vocabulary
    broadcast, no UDF — the point of the hashing trick at 100 TB is
    that the feature space is fixed a priori, and the plan reflects
    it: nothing grows with corpus vocabulary except the intermediate
    token census."""
    tok = t(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    cnt = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    b = cnt.select(
        "lang",
        "c",
        F.expr(f"CAST({hex12_sql('md5(token)')} % {FH_BUCKETS} AS INT)").alias(
            "bucket"
        ),
    )
    return b.groupBy("lang", "bucket").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.max("c").cast("long").alias("max_type_count"),
    )


PMI_MIN_COUNT = 5  # bigram min support before PMI ranking
PMI_TOP = 10  # collocations reported per language
_PMI_LN_SCALE = 1_000_000


def _pmi_lnq(x: str) -> str:
    return f"CAST(floor(ln(CAST({x} AS DOUBLE)) * {_PMI_LN_SCALE} + 0.5) AS BIGINT)"


def _pmi_oracle() -> str:
    pmi = (
        f"{_pmi_lnq('bi.cab')} - {_pmi_lnq('nb_t.nb')} + 2 * {_pmi_lnq('nu_t.nu')}"
        f" - {_pmi_lnq('ua.c')} - {_pmi_lnq('ub.c')}"
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, u.i AS pos, string_split(text, ' ')[u.i] AS w
      FROM documents,
           UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS u(i)
    ),
    uni AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
    nu_t AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nu FROM uni GROUP BY lang),
    bi AS (
      SELECT a.lang, a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS cab
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.lang = b.lang
      GROUP BY 1, 2, 3
    ),
    nb_t AS (SELECT lang, CAST(sum(cab) AS BIGINT) AS nb FROM bi GROUP BY lang),
    scored AS (
      SELECT bi.lang, bi.w1, bi.w2, bi.cab,
             CAST({pmi} AS BIGINT) AS pmi_micro
      FROM bi
      JOIN uni ua ON ua.lang = bi.lang AND ua.w = bi.w1
      JOIN uni ub ON ub.lang = bi.lang AND ub.w = bi.w2
      JOIN nu_t ON nu_t.lang = bi.lang
      JOIN nb_t ON nb_t.lang = bi.lang
      WHERE bi.cab >= {PMI_MIN_COUNT}
    ),
    ranked AS (
      SELECT lang, w1, w2, cab, pmi_micro,
             CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY pmi_micro DESC, w1, w2) AS INTEGER) AS rnk
      FROM scored
    )
    SELECT lang, rnk, w1, w2, cab, pmi_micro
    FROM ranked WHERE rnk <= {PMI_TOP}
    """


@query("q_text_pmi", _pmi_oracle())
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP} PMI collocations per language (Church & Hanks
    1990): adjacent-token bigrams with min support {PMI_MIN_COUNT},
    scored ln(p(ab)/(p(a)p(b))) — decomposed into five quantized-ln
    terms (1e-6 grid, q_text_entropy's recipe) over exact counts, so
    the score is a BIGINT sum of per-distinct-value constants and the
    ranking is deterministic with a (w1, w2) tie-break. The phrase-
    mining primitive under tokenizer-vocabulary and stopword curation.

    Scale shape: tokenize-with-position once; bigrams come from a
    (doc_id, pos+1) equi-join of the token table with itself (keyed
    shuffle, no window over the corpus); unigram/bigram censuses are
    map-side-combinable hash aggs; ln is evaluated once per DISTINCT
    count value; the rank window runs over the min-support-filtered
    collocation table (vocabulary-sized, not corpus-sized)."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    )
    uni = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nu_t = uni.groupBy("lang").agg(F.sum("c").cast("long").alias("nu"))
    a = tok.select("doc_id", "lang", "pos", F.col("w").alias("w1"))
    b = tok.select(
        "doc_id", "lang", (F.col("pos") - 1).alias("pos"), F.col("w").alias("w2")
    )
    bi = (
        a.join(b, ["doc_id", "lang", "pos"])
        .groupBy("lang", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .where(F.col("cab") >= PMI_MIN_COUNT)
    )
    nb_t = (
        tok.groupBy("lang")
        .agg((F.count(F.lit(1)) - F.countDistinct("doc_id")).cast("long").alias("nb"))
    )
    pmi = (
        f"{_pmi_lnq('cab')} - {_pmi_lnq('nb')} + 2 * {_pmi_lnq('nu')}"
        f" - {_pmi_lnq('ca')} - {_pmi_lnq('cb')}"
    )
    scored = (
        bi.join(uni.select("lang", F.col("w").alias("w1"), F.col("c").alias("ca")), ["lang", "w1"])
        .join(uni.select("lang", F.col("w").alias("w2"), F.col("c").alias("cb")), ["lang", "w2"])
        .join(F.broadcast(nu_t), "lang")
        .join(F.broadcast(nb_t), "lang")
        .select("lang", "w1", "w2", "cab", F.expr(f"CAST({pmi} AS BIGINT)").alias("pmi_micro"))
    )
    wr = Window.partitionBy("lang").orderBy(
        F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .where(F.col("rnk") <= PMI_TOP)
        .select("lang", "rnk", "w1", "w2", "cab", "pmi_micro")
    )


OOV_VOCAB_K = 2_000  # reference tokenizer vocabulary: top-K corpus tokens

_OOV_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
    vocab AS (
      SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY c DESC, token) AS rnk FROM cnt
      ) WHERE rnk <= {OOV_VOCAB_K}
    ),
    flags AS (
      SELECT t.lang,
             CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON v.token = t.token
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST(sum(oov) * 1000000 // count(*) AS BIGINT) AS oov_ppm
    FROM flags GROUP BY lang
"""


@query("q_text_oov", _OOV_ORACLE)
def q_text_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against a fixed top-
    {OOV_VOCAB_K} reference vocabulary — the tokenizer-fit diagnostic
    that complements q_text_vocab_coverage: coverage asks how much a
    budget buys globally, OOV asks which language pays for what the
    budget missed (a high-OOV language is under-served by the
    tokenizer and will fragment into bytes/unknowns at training time).
    Vocabulary membership is deterministic (count DESC, token tie-
    break) and the rate is exact ppm.

    Scale shape: token census (map-side combined) -> vocabulary rank
    window over the VOCABULARY table -> broadcast top-K set -> narrow
    left-join flag -> per-lang aggregate. In production the vocab side
    is the tokenizer's actual vocab file, read once and broadcast."""
    tok = t(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    vocab = (
        cnt.withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("token")))
        )
        .where(F.col("rnk") <= OOV_VOCAB_K)
        .select("token")
    )
    flags = tok.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "token", "left"
    ).select(
        "lang", F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov")
    )
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.expr("CAST(sum(oov) * 1000000 DIV count(*) AS BIGINT)").alias("oov_ppm"),
    )


_READ_ORACLE = """
    WITH d AS (
      SELECT lang,
             len(string_split(text, ' ')) AS w,
             greatest(length(text) - length(replace(text, '.', ''))
                      + length(text) - length(replace(text, '!', ''))
                      + length(text) - length(replace(text, '?', '')),
                      1) AS s,
             length(lower(text))
               - length(translate(lower(text), 'aeiou', '')) AS v
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS n_words,
           CAST(sum(s) AS BIGINT) AS n_sentences,
           CAST(sum(v) AS BIGINT) AS n_vowels,
           CAST(sum(w) * 1000 // sum(s) AS BIGINT) AS wps_milli,
           CAST(sum(v) * 1000 // sum(w) AS BIGINT) AS vpw_milli,
           CAST(206835 - 1015 * sum(w) // sum(s)
                       - 84600 * sum(v) // sum(w) AS BIGINT) AS fre_milli
    FROM d GROUP BY lang
"""


@query("q_text_readability", _READ_ORACLE)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Flesch-style readability scoring (Flesch 1948
    reading ease, the pre-training quality filter next to the length/
    punctuation/stopword family): FRE = 206.835 − 1.015·(words/
    sentence) − 84.6·(syllables/word), with sentences counted from
    terminator characters (., !, ? — floored at 1 per doc) and the
    syllable count proxied by vowel occurrences (the standard cheap
    proxy; no dictionary exists in this environment). Everything is
    milli-scaled BIGINT arithmetic: the two ratios are computed from
    LANGUAGE-LEVEL sums with floor division (numerators provably
    non-negative), and the final score is subtraction only — no
    negative-operand division on either engine.

    Scale shape: one narrow map over the corpus (char counting via
    translate/replace stays in whole-stage codegen; no regex, no UDF)
    into a language-keyed, map-side-combinable aggregate; output is
    language-cardinality-sized."""
    txt = F.col("text")
    low = F.lower(txt)
    term = (
        (F.length(txt) - F.length(F.replace(txt, F.lit("."), F.lit(""))))
        + (F.length(txt) - F.length(F.replace(txt, F.lit("!"), F.lit(""))))
        + (F.length(txt) - F.length(F.replace(txt, F.lit("?"), F.lit(""))))
    )
    d = t(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split(txt, " ")).alias("w"),
        F.greatest(term, F.lit(1)).alias("s"),
        (
            F.length(low) - F.length(F.translate(low, "aeiou", ""))
        ).alias("v"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("s").cast("long").alias("n_sentences"),
        F.sum("v").cast("long").alias("n_vowels"),
        F.expr("CAST(sum(w) * 1000 DIV sum(s) AS BIGINT)").alias("wps_milli"),
        F.expr("CAST(sum(v) * 1000 DIV sum(w) AS BIGINT)").alias("vpw_milli"),
        F.expr(
            "CAST(206835 - 1015 * sum(w) DIV sum(s)"
            " - 84600 * sum(v) DIV sum(w) AS BIGINT)"
        ).alias("fre_milli"),
    )


@query(
    "q_quality_ascii",
    """
    WITH d AS (
      SELECT source,
             length(text) AS n_chars_txt,
             length(regexp_replace(text, '[ -~]', '', 'g')) AS n_nonprint
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars_txt) AS BIGINT) AS n_chars,
           CAST(sum(n_nonprint) AS BIGINT) AS n_nonprintable,
           CAST(sum(n_nonprint) * 1000000 // nullif(sum(n_chars_txt), 0)
                AS BIGINT) AS nonprintable_ppm,
           CAST(count(*) FILTER (WHERE n_nonprint * 100 > n_chars_txt)
                AS BIGINT) AS n_docs_flagged
    FROM d GROUP BY source
    """,
)
def q_quality_ascii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source printable-ASCII hygiene audit — the cheapest crawl
    filter there is: share of characters outside the printable-ASCII
    band `[ -~]` (mojibake, control bytes, binary spill) in exact ppm,
    plus the count of documents whose non-printable share exceeds 1 %
    (the flag threshold as an integer cross-multiplication, no float).
    Completes the quality family sideways: q_text_quality scores
    linguistic shape, this key audits encoding health — the filter you
    run FIRST, before paying for tokenization.

    Cross-engine note: the character class `[ -~]` is a literal
    codepoint range with identical semantics in Java regex (Spark) and
    RE2 (DuckDB); counting is length-difference after removal, so no
    extraction semantics are involved.

    Scale shape: one narrow map (two length exprs + one regex removal)
    into a source-keyed map-side-combinable aggregate."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.length("text").alias("n_chars_txt"),
        F.length(F.regexp_replace("text", "[ -~]", "")).alias("n_nonprint"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars_txt").cast("long").alias("n_chars"),
        F.sum("n_nonprint").cast("long").alias("n_nonprintable"),
        F.expr(
            "CAST(sum(n_nonprint) * 1000000 DIV nullif(sum(n_chars_txt), 0)"
            " AS BIGINT)"
        ).alias("nonprintable_ppm"),
        F.count(F.when(F.col("n_nonprint") * 100 > F.col("n_chars_txt"), 1))
        .cast("long")
        .alias("n_docs_flagged"),
    )


# Gopher-style document-shape gates (Rae et al. 2021, adapted to the
# signals derivable from the fixture text): word-count band, mean
# word length band (milli), digit-character share cap, symbol
# (non-alphanumeric-non-space) share cap, duplicate-word share cap.
GOPHER_MIN_WORDS = 5
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WLEN_MILLI = 2_000
GOPHER_MAX_WLEN_MILLI = 12_000
GOPHER_DIGIT_PPM = 200_000
GOPHER_SYMBOL_PPM = 100_000
GOPHER_DUPWORD_PPM = 500_000


_GOPHER_ORACLE = f"""
    WITH c AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS w,
             length(text) AS nc,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS n_digit,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_sym
      FROM documents
    ),
    dw AS (
      SELECT doc_id, CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents) u
      GROUP BY doc_id
    ),
    r AS (
      SELECT c.source,
             CASE WHEN c.w < {GOPHER_MIN_WORDS}
                    OR c.w > {GOPHER_MAX_WORDS} THEN 1 ELSE 0 END AS f_len,
             CASE WHEN (c.nc - c.w + 1) * 1000 < {GOPHER_MIN_WLEN_MILLI} * c.w
                    OR (c.nc - c.w + 1) * 1000 > {GOPHER_MAX_WLEN_MILLI} * c.w
                  THEN 1 ELSE 0 END AS f_wlen,
             CASE WHEN c.n_digit * 1000000 > {GOPHER_DIGIT_PPM} * c.nc
                  THEN 1 ELSE 0 END AS f_digit,
             CASE WHEN c.n_sym * 1000000 > {GOPHER_SYMBOL_PPM} * c.nc
                  THEN 1 ELSE 0 END AS f_sym,
             CASE WHEN (c.w - dw.n_distinct) * 1000000
                       > {GOPHER_DUPWORD_PPM} * c.w
                  THEN 1 ELSE 0 END AS f_dup
      FROM c JOIN dw ON dw.doc_id = c.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f_len) AS BIGINT) AS n_fail_wordcount,
           CAST(sum(f_wlen) AS BIGINT) AS n_fail_wordlen,
           CAST(sum(f_digit) AS BIGINT) AS n_fail_digit,
           CAST(sum(f_sym) AS BIGINT) AS n_fail_symbol,
           CAST(sum(f_dup) AS BIGINT) AS n_fail_dupword,
           CAST(count(*) FILTER (WHERE f_len + f_wlen + f_digit
                                       + f_sym + f_dup = 0)
                AS BIGINT) AS n_pass_all,
           CAST(count(*) FILTER (WHERE f_len + f_wlen + f_digit
                                       + f_sym + f_dup = 0) * 1000000
                // count(*) AS BIGINT) AS pass_ppm
    FROM r GROUP BY source
"""


@query("q_quality_gopher_rules", _GOPHER_ORACLE)
def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-shape gate census (Rae et al. 2021 §A1.1,
    adapted to fixture-derivable signals): per source, how many docs
    fail EACH named rule — word-count band, mean-word-length band,
    digit share, symbol share, duplicate-word share — plus the
    all-rules pass count and exact-ppm pass rate. q_text_quality
    SCORES documents; this key reports the rule-by-rule attrition a
    curation run publishes ("source X loses 40 % to the digit gate"),
    the per-rule breakdown every data card wants.

    Every comparison is an integer cross-multiplication (share > cap
    becomes count·1e6 > cap_ppm·total), so rule outcomes are
    hash-exact — no float thresholds. The duplicate-word rule is the
    one corpus-heavy signal (distinct tokens per doc via one
    explode + doc-keyed aggregate); everything else is narrow
    translate/regexp char counting inside whole-stage codegen.

    Scale shape: one narrow char-count map + one doc-keyed distinct
    aggregate (map-side combinable) + one source-keyed rollup."""
    docs = t(spark, sf_dir, "documents")
    c = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("w"),
        F.length("text").alias("nc"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[0-9]", ""))
        ).alias("n_digit"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).alias("n_sym"),
    )
    dw = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id")
        .agg(F.countDistinct("tok").cast("long").alias("n_distinct"))
    )
    f_len = (
        (F.col("w") < GOPHER_MIN_WORDS) | (F.col("w") > GOPHER_MAX_WORDS)
    ).cast("int")
    wchars = (F.col("nc") - F.col("w") + 1) * 1000
    f_wlen = (
        (wchars < GOPHER_MIN_WLEN_MILLI * F.col("w"))
        | (wchars > GOPHER_MAX_WLEN_MILLI * F.col("w"))
    ).cast("int")
    f_digit = (
        F.col("n_digit") * 1_000_000 > GOPHER_DIGIT_PPM * F.col("nc")
    ).cast("int")
    f_sym = (
        F.col("n_sym") * 1_000_000 > GOPHER_SYMBOL_PPM * F.col("nc")
    ).cast("int")
    f_dup = (
        (F.col("w") - F.col("n_distinct")) * 1_000_000
        > GOPHER_DUPWORD_PPM * F.col("w")
    ).cast("int")
    r = c.join(dw, "doc_id").select(
        "source",
        f_len.alias("f_len"),
        f_wlen.alias("f_wlen"),
        f_digit.alias("f_digit"),
        f_sym.alias("f_sym"),
        f_dup.alias("f_dup"),
    )
    all_pass = (
        F.col("f_len") + F.col("f_wlen") + F.col("f_digit")
        + F.col("f_sym") + F.col("f_dup")
        == 0
    )
    return r.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("f_len").cast("long").alias("n_fail_wordcount"),
        F.sum("f_wlen").cast("long").alias("n_fail_wordlen"),
        F.sum("f_digit").cast("long").alias("n_fail_digit"),
        F.sum("f_sym").cast("long").alias("n_fail_symbol"),
        F.sum("f_dup").cast("long").alias("n_fail_dupword"),
        F.count(F.when(all_pass, 1)).cast("long").alias("n_pass_all"),
        F.expr(
            "CAST(count(CASE WHEN f_len + f_wlen + f_digit + f_sym + f_dup = 0"
            " THEN 1 END) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("pass_ppm"),
    )


_LENGTH_HIST_ORACLE = """
    WITH d AS (
      SELECT source,
             length(text) AS nc,
             len(string_split(text, ' ')) AS w
      FROM documents
    ),
    g AS (
      SELECT source,
             CAST(length(CAST(nc AS VARCHAR)) AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nc) AS BIGINT) AS total_chars,
             CAST(sum(w) AS BIGINT) AS total_tokens
      FROM d GROUP BY 1, 2
    ),
    s AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS tot FROM g GROUP BY 1)
    SELECT g.source, g.bucket, g.n_docs, g.total_chars, g.total_tokens,
           CAST(g.n_docs * 1000000 // s.tot AS BIGINT) AS share_ppm
    FROM g JOIN s ON s.source = g.source
"""


@query("q_text_length_hist", _LENGTH_HIST_ORACLE)
def q_text_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram — the data-card staple
    next to q_profile_dataset_card's scalar stats: how are a source's
    documents distributed across orders of magnitude of length? The
    bucket is the DIGIT COUNT of n_chars (1 = 1-9 chars, 2 = 10-99,
    ...), i.e. a log10 bucket computed as string length — an exact
    integer on both engines, unlike floor(log10(x)) whose libm
    boundary behavior at powers of ten is not portable. Each row
    carries the bucket's doc count, total chars, total whitespace
    tokens, and its exact-ppm share of the source's documents.

    Scale shape: ONE corpus scan — a narrow map (length + split-size,
    whole-stage codegen) into a (source, bucket)-keyed map-side-
    combined hash aggregate; the per-source total is a window over the
    AGGREGATED frame (sources x ~digit-count rows), so the second pass
    touches dozens of rows, not the corpus."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.length("text").alias("nc"),
        F.size(F.split("text", " ")).alias("w"),
    )
    g = d.groupBy(
        "source",
        F.length(F.col("nc").cast("string")).cast("int").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nc").cast("long").alias("total_chars"),
        F.sum("w").cast("long").alias("total_tokens"),
    )
    tot = F.sum("n_docs").over(Window.partitionBy("source"))
    return g.withColumn("tot", tot.cast("long")).select(
        "source",
        "bucket",
        "n_docs",
        "total_chars",
        "total_tokens",
        F.expr("CAST(n_docs * 1000000 DIV tot AS BIGINT)").alias("share_ppm"),
    )


# --- tokenizer fertility (round 9) -------------------------------------

_FERTILITY_ORACLE = r"""
    WITH d AS (
      SELECT lang, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             CAST(len(regexp_extract_all(text,
                  '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS b,
             CAST(length(text) AS BIGINT) AS nc
      FROM documents
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS total_words,
           CAST(sum(b) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(nc) AS BIGINT) AS total_chars,
           CAST(sum(b) * 1000000 // nullif(sum(w), 0) AS BIGINT)
             AS fertility_ppm,
           CAST(sum(nc) * 1000000 // nullif(sum(b), 0) AS BIGINT)
             AS chars_per_token_ppm
    FROM d GROUP BY lang, source
"""


@query("q_text_fertility", _FERTILITY_ORACLE)
def q_text_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language x source — the tokenizer-
    efficiency readout every multilingual pretraining mix is budgeted
    with: fertility = subword tokens per whitespace word (a tokenizer
    "spends" more tokens per word on languages it segments poorly) and
    its companion chars-per-token, both as exact ppm ratios of corpus
    totals. q_text_token_bpe emits the per-document counts; this key is
    the corpus-level planning table built from the same BPE-ish
    segmentation (letter runs / digit runs / single symbols) — the pair
    (fertility, chars/token) decides how many TEXT bytes a fixed token
    budget actually buys per source.

    Exactness: counts are exact integers from identical regexes (the
    q_text_token_bpe kernel) and both ratios are exact integer ppm
    divisions of corpus sums, nullif-guarded on BOTH engines (ADVICE r9:
    Spark DIV returns NULL on zero while DuckDB // raises — the guard
    makes a group with no BPE-matching characters yield NULL uniformly,
    the same convention as q_ml_roc_curve / q_dedup_band_tune). On the
    fixtures the guard never fires: sum(w) and sum(b) are >= 1 per group
    (split of any string yields >= 1 element; every fixture doc has
    >= 1 BPE run because documents are non-empty).

    Scale shape: ONE corpus scan, narrow per-row regex counting inside
    whole-stage codegen, then a (lang, source)-keyed map-side-combined
    hash aggregate — the q_text_length_hist plan with a different
    functional; output is alphabet-sized."""
    txt = F.col("text")
    d = t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.size(F.split(txt, " ")).cast("long").alias("w"),
        F.size(
            F.regexp_extract_all(txt, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))
        ).cast("long").alias("b"),
        F.length(txt).cast("long").alias("nc"),
    )
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("total_words"),
        F.sum("b").cast("long").alias("total_bpe_tokens"),
        F.sum("nc").cast("long").alias("total_chars"),
        F.expr("CAST(sum(b) * 1000000 DIV nullif(sum(w), 0) AS BIGINT)").alias(
            "fertility_ppm"
        ),
        F.expr("CAST(sum(nc) * 1000000 DIV nullif(sum(b), 0) AS BIGINT)").alias(
            "chars_per_token_ppm"
        ),
    )


# --- top-n-gram character coverage (round 9) ----------------------------

TOPGRAM_THRESHOLD_PPM = 200_000  # Gopher: top-2-gram char fraction > 0.20


_TOPGRAM_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS l
      FROM documents
    ),
    bg AS (
      SELECT doc_id, nc,
             unnest(list_transform(list_slice(l, 1, len(l)-1),
                                   (x, i) -> x || ' ' || l[i+1])) AS bigram
      FROM toks WHERE len(l) >= 2
    ),
    cnt AS (
      SELECT doc_id, nc, bigram, CAST(count(*) AS BIGINT) AS n_occ
      FROM bg GROUP BY doc_id, nc, bigram
    ),
    top AS (
      SELECT doc_id, nc, bigram AS top_bigram, n_occ,
             CAST(sum(n_occ) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY n_occ DESC, bigram) AS rn
        FROM cnt) x
      QUALIFY rn = 1
    )
    SELECT doc_id, top_bigram, n_occ, n_bigrams,
           CAST(n_occ * length(top_bigram) * 1000000 // nc AS BIGINT)
             AS cover_ppm,
           n_occ * length(top_bigram) * 1000000 // nc > {TOPGRAM_THRESHOLD_PPM}
             AS flagged
    FROM top
"""


@query("q_text_top_ngram_cover", _TOPGRAM_ORACLE)
def q_text_top_ngram_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2-gram character coverage — the Gopher repetition rule
    (Rae et al. 2021, Table A1) that q_text_repetition's duplicate-
    shingle fraction does NOT cover: per document, find the most
    frequent token bigram and report the fraction of the document's
    characters its occurrences account for (count x bigram chars /
    total chars, exact ppm). Keyword-stuffed pages and looping
    generator output concentrate mass in ONE n-gram long before the
    distinct-shingle fraction moves, so Gopher gates on both. Flag
    threshold {TOPGRAM_THRESHOLD_PPM} ppm = the published 0.20 bound
    for 2-grams. (Overlapping occurrences can push the ratio past 1e6
    ppm on degenerate "a a a ..." text — the score is a gate, not a
    measure, identical on both engines.)

    Determinism: the winning bigram tie-breaks (count desc, bigram
    asc); coverage is exact integer arithmetic; documents with fewer
    than 2 tokens carry no bigram and are excluded on both sides.

    Scale shape: narrow zip of the token array with its own tail (no
    explode-then-self-join), one (doc, bigram)-keyed count with
    map-side combine, one per-doc argmax window partitioned on the
    high-cardinality doc key — the q_text_ngram_lm plan re-keyed per
    document."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = (
        t(spark, sf_dir, "documents")
        .where(n >= 2)
        .select("doc_id", F.length("text").alias("nc"), bigrams.alias("bgs"))
        .select("doc_id", "nc", F.explode("bgs").alias("bigram"))
    )
    cnt = bg.groupBy("doc_id", "nc", "bigram").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_occ"), F.asc("bigram"))
    wp = Window.partitionBy("doc_id")
    top = (
        cnt.withColumn("rn", F.row_number().over(w))
        .withColumn("n_bigrams", F.sum("n_occ").over(wp).cast("long"))
        .where(F.col("rn") == 1)
    )
    cover = F.expr("CAST(n_occ * length(bigram) * 1000000 DIV nc AS BIGINT)")
    return top.select(
        "doc_id",
        F.col("bigram").alias("top_bigram"),
        "n_occ",
        "n_bigrams",
        cover.alias("cover_ppm"),
        (cover > TOPGRAM_THRESHOLD_PPM).alias("flagged"),
    )


# --- hash-keyed watermark detection (round 10) ---------------------------

WM_MIN_TRANS = 16  # minimum transitions before a doc is z-scored
WM_Z_FLAG = 4.0  # Kirchenbauer et al. 2023 detection threshold (z > 4)


_WM_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS l
      FROM documents
    ),
    tr AS (
      SELECT doc_id, lang, source,
             CAST(len(l) - 1 AS BIGINT) AS nt,
             unnest(list_transform(list_slice(l, 1, len(l) - 1),
                                   (x, i) -> x || '|' || l[i + 1])) AS pair
      FROM d WHERE len(l) - 1 >= {WM_MIN_TRANS}
    ),
    g AS (
      SELECT doc_id, lang, source, nt,
             CAST(sum(CASE WHEN ({hex12_sql("md5(pair)")}) % 2 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS ng
      FROM tr GROUP BY doc_id, lang, source, nt
    ),
    z AS (
      SELECT lang, source, nt, ng,
             round(CAST(2 * ng - nt AS DOUBLE)
                   / sqrt(CAST(nt AS DOUBLE)), 4) AS z4
      FROM g
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN z4 > {WM_Z_FLAG} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(sum(ng) * 1000000 // sum(nt) AS BIGINT) AS green_ppm,
           max(z4) AS max_z
    FROM z GROUP BY lang, source
"""


@query("q_text_watermark_detect", _WM_ORACLE)
def q_text_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed watermark detection census (Kirchenbauer et al. 2023,
    "A Watermark for Large Language Models"): a green-list watermark
    seeds a PRF with the previous token and biases generation toward
    the "green" half of the vocabulary, so watermarked text shows a
    green-transition fraction far above 1/2 and is detected by the
    one-proportion z-score z = (2g - T) / sqrt(T) over T scored
    transitions. This is the synthetic-text contamination gate a
    pretraining pipeline runs BEFORE training on crawled data — models
    trained on watermarked model output inherit the bias. Green
    membership here is the md5 parity of the (prev|next) pair — the
    same keyed-PRF shape as the published detector, deterministic and
    identical on both engines; natural text sits at ~500000 ppm green
    and z near 0, so flags (z > {WM_Z_FLAG}) measure the detector's
    false-positive floor on a clean corpus. Docs with fewer than
    {WM_MIN_TRANS} transitions are not scored (the z approximation
    needs mass; same floor as the paper's minimum-length guidance).

    Determinism: counts are exact integers; z's only float ops are one
    IEEE-exact BIGINT->DOUBLE divide and one correctly-rounded sqrt,
    then the shared 4-dp round — bit-identical cross-engine, so the
    flag comparison and max_z hash stably.

    Scale shape: narrow zip of the token array with its own tail (the
    q_text_top_ngram_cover idiom — no explode-then-self-join), one
    (doc)-keyed count with map-side combine, one (lang, source) rollup;
    output is catalog-sized. At 100 TB this is ONE corpus scan and two
    hash aggregates."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit("|"), b),
    )
    tr = (
        t(spark, sf_dir, "documents")
        .where((n - 1) >= WM_MIN_TRANS)
        .select(
            "doc_id",
            "lang",
            "source",
            (n - 1).cast("long").alias("nt"),
            F.explode(pairs).alias("pair"),
        )
    )
    green = F.expr(f"CASE WHEN ({hex12_sql('md5(pair)')}) % 2 = 0 THEN 1 ELSE 0 END")
    g = tr.groupBy("doc_id", "lang", "source", "nt").agg(
        F.sum(green).cast("long").alias("ng")
    )
    z4 = F.round(
        (2 * F.col("ng") - F.col("nt")).cast("double")
        / F.sqrt(F.col("nt").cast("double")),
        4,
    )
    z = g.select("lang", "source", "nt", "ng", z4.alias("z4"))
    return z.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("z4") > WM_Z_FLAG, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.expr("CAST(sum(ng) * 1000000 DIV sum(nt) AS BIGINT)").alias(
            "green_ppm"
        ),
        F.max("z4").alias("max_z"),
    )


# --- eval-side tokenizer-aware contamination report (round 11) -------------

DECON_N = 5  # token n-gram order for the eval-contamination check
DIRTY_PPM = 700_000  # flag an eval doc "dirty" at >= 70% n-gram overlap

_DECONTAM_EVAL_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(tk[1:len(tk)-{DECON_N - 1}],
                    (x, i) -> concat(x, ' ', tk[i+1], ' ', tk[i+2],
                                     ' ', tk[i+3], ' ', tk[i+4]))) AS gram
      FROM toks WHERE len(tk) >= {DECON_N}
    ),
    hv AS (SELECT DISTINCT doc_id, {hex12_sql("md5(gram)")} AS hv FROM g),
    ev AS (SELECT doc_id, hv FROM hv
           WHERE doc_id % {BENCH_MOD} = {BENCH_RESIDUE}),
    tr AS (SELECT DISTINCT hv FROM hv
           WHERE doc_id % {BENCH_MOD} <> {BENCH_RESIDUE})
    SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(t.hv) AS BIGINT) AS n_contaminated,
           CAST(count(t.hv) * 1000000 // count(*) AS BIGINT)
             AS contamination_ppm,
           count(t.hv) * 1000000 // count(*) >= {DIRTY_PPM} AS dirty
    FROM ev e LEFT JOIN tr t USING (hv)
    GROUP BY e.doc_id
"""


@query("q_text_decontam_eval", _DECONTAM_EVAL_ORACLE)
def q_text_decontam_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-side, tokenizer-aware contamination report: for every
    held-out benchmark document (the deterministic doc_id % 100 == 7
    slice), the fraction of its {DECON_N}-gram TOKEN n-grams that occur
    anywhere in the training corpus, and a dirty flag at the >= 70%
    overlap mark — the eval-integrity table from the GPT-3 appendix-C /
    PaLM contamination procedure (Brown et al. 2020; Chowdhery et al.
    2022), where a benchmark EXAMPLE is graded clean/dirty so
    contaminated examples can be excluded from the eval split.

    This is the complement of q_text_decontam, which grades the
    TRAINING side (which train docs to drop, word 3-grams); this key
    grades the EVAL side, and is tokenizer-aware: n-grams run over the
    BPE-ish regex segmentation (letter runs / digit runs / single
    symbols — the q_text_token_bpe kernel), the unit actual
    contamination checks operate in, not whitespace words.

    Exactness: gram hashes are the shared hex12(md5) 48-bit kernel;
    counts are exact BIGINT; contamination_ppm is floored once at ppm
    scale (n_grams >= 1 by the len(tk) >= {DECON_N} filter, so the
    divide never sees 0); dirty is a BIGINT comparison. Hash-green.

    Scale shape (the 100 TB argument): the EVAL side is tiny by
    construction (benchmark suites are MBs against a 100 TB corpus), so
    its distinct gram-hash set BROADCASTS (bounded by eval size — the
    documented-bound broadcast case); the corpus side is a narrow
    tokenize+explode that is SEMI-joined against that broadcast set —
    the only thing ever shuffled from the corpus is the matched-gram
    subset, itself bounded by eval size. A distinct + per-eval-doc
    count finish the report. No corpus-sized shuffle, no all-pairs."""
    txt = F.col("text")
    toks = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract_all(txt, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)).alias("tk"),
    ).filter(F.size("tk") >= DECON_N)
    gram_expr = (
        f"transform(sequence(1, size(tk) - {DECON_N - 1}), "
        "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1), ' ', "
        "element_at(tk, i + 2), ' ', element_at(tk, i + 3), ' ', "
        "element_at(tk, i + 4)))"
    )
    g = toks.select("doc_id", F.explode(F.expr(gram_expr)).alias("gram")).select(
        "doc_id", _hex12(F.md5("gram")).alias("hv")
    )
    is_ev = (F.col("doc_id") % BENCH_MOD) == BENCH_RESIDUE
    ev = g.filter(is_ev).distinct()
    # eval gram set: bounded by the benchmark suite's size by
    # construction -> broadcast is safe (documented bound).
    evset = F.broadcast(ev.select("hv").distinct())
    # contaminated grams = train grams that hit the eval set; bounded
    # by the eval set, so broadcasting the RESULT back is equally safe.
    tr_hit = F.broadcast(
        g.filter(~is_ev).join(evset, "hv", "semi").select("hv").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        ev.join(tr_hit, "hv", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count("hit").cast("long").alias("n_contaminated"),
            F.expr("CAST(count(hit) * 1000000 DIV count(1) AS BIGINT)").alias(
                "contamination_ppm"
            ),
            (F.expr("count(hit) * 1000000 DIV count(1)") >= DIRTY_PPM).alias(
                "dirty"
            ),
        )
    )
