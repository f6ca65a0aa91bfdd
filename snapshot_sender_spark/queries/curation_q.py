"""Corpus-curation surface: the LLM-training-data operators a 100 TB pipeline
runs between raw scrape and tokenizer — repetition-based quality metrics
(Gopher rules), benchmark decontamination (n-gram overlap), deterministic
train/valid/test splitting, PII redaction, and exact stratified sampling.

All five are pure DataFrame plans (no Python UDFs): explode/groupBy shuffles
key-value pairs only (never full text), splits/sampling are stateless hash
expressions that parallelize embarrassingly, and the decontamination join
broadcasts nothing it doesn't have to — at 100 TB the benchmark n-gram set
(MBs) broadcasts while the corpus side streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load, view
from ..util import session_exprs
from . import query

# =============================================================================
# Gopher-style repetition / quality metrics
# =============================================================================


@query(
    "text_gopher_repetition",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (
      SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_word_frac,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE) AS dup_word_frac,
           CAST(SUM(length(w) * c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS mean_word_len,
           (CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) <= 0.20
            AND CAST(SUM(length(w) * c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                  BETWEEN 3.0 AND 10.0) AS pass
    FROM wc
    GROUP BY doc_id
    """,
    category="llm-text",
)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition metrics per document (Rae et al. 2021 §A1.1):
    fraction of words taken by the most frequent word, fraction of words that
    are repeats, mean word length — and the keep/drop verdict.

    Scale shape: explodes to (doc_id, word) pairs and aggregates — the shuffle
    carries words, never documents; two-phase agg combines map-side. All
    divisions are same-input double ops (bit-identical across engines)."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c").cast("double")
    top_frac = F.max("c").cast("double") / n
    dup_frac = F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).cast("double") / n
    mean_len = F.sum(F.length("w") * F.col("c")).cast("double") / n
    return wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        top_frac.alias("top_word_frac"),
        dup_frac.alias("dup_word_frac"),
        mean_len.alias("mean_word_len"),
        ((top_frac <= 0.20) & mean_len.between(3.0, 10.0)).alias("pass"),
    )


# =============================================================================
# Benchmark decontamination — n-gram overlap against a held-out set
# =============================================================================


@query(
    "decontam_ngram_overlap",
    oracle="""
    WITH g AS (
      SELECT doc_id, source,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                   || ' ' || ws[i+4] AS gram
      FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
           UNNEST(range(1, len(ws) - 3)) AS t(i)
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
    cand AS (SELECT DISTINCT doc_id, gram FROM g WHERE source <> 'src0')
    SELECT cand.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM cand JOIN bench USING (gram)
    GROUP BY cand.doc_id
    """,
    category="llm-text",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    5-gram with the held-out set (here: source='src0' plays the benchmark) —
    the standard eval-leakage scrub (GPT-3 appendix C uses 13-grams).

    Scale shape: the benchmark gram set is small (eval suites are MBs) →
    broadcast to the corpus side; the corpus explodes to distinct
    (doc_id, gram) pairs map-side, so the only shuffle is the final per-doc
    count of matched grams."""
    d = load(spark, sf_dir, "documents").filter(F.size(F.split("text", " ")) >= 5)
    words = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - 4),
        lambda i: F.concat_ws(" ", F.slice(words, i, 5)),
    )
    exploded = d.select("doc_id", "source", F.explode(grams).alias("gram"))
    bench = exploded.filter(F.col("source") == "src0").select("gram").distinct()
    cand = (
        exploded.filter(F.col("source") != "src0").select("doc_id", "gram").distinct()
    )
    return (
        cand.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


# =============================================================================
# Deterministic train/valid/test split — stateless hash expression
# =============================================================================


@query(
    "data_split_hash",
    oracle="""
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (
      SELECT lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    )
    GROUP BY split, lang
    """,
    category="llm-text",
)
def data_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment from a content-stable hash
    (first md5 nibble: 12/16 train, 2/16 valid, 2/16 test) — reproducible
    across runs and engines, no RNG state, no shuffle to assign; the only
    shuffle is the audit count."""
    d = load(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(nib <= "b", "train").when(nib <= "d", "valid").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


# =============================================================================
# PII redaction — vectorized regex scrub
# =============================================================================


@query(
    "text_pii_redact",
    oracle="""
    SELECT c_custkey,
           regexp_replace(
             regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             '[0-9]{4,}', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '[0-9]{4,}')) AS BIGINT) AS n_long_nums
    FROM (
      SELECT c_custkey,
             c_name || ' <' || lower(replace(c_name, ' ', '.'))
                    || '@corp.example.com> ref ' || CAST(c_custkey * 7919 AS VARCHAR)
               AS raw
      FROM customer
    )
    """,
    category="llm-text",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: replace email addresses and long digit runs with typed
    placeholders, and count what was removed (the audit trail). The PII-bearing
    string is synthesized deterministically from customer rows because the
    testdata carries no real PII — the operator (vectorized regexp_replace,
    JVM-side, no UDF) is the deliverable.

    Scale shape: stateless map — no shuffle at all; regex engines run
    per-partition inside whole-stage codegen."""
    c = load(spark, sf_dir, "customer")
    raw = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.replace(F.col("c_name"), F.lit(" "), F.lit("."))),
        F.lit("@corp.example.com> ref "),
        (F.col("c_custkey") * 7919).cast("string"),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    nums = r"[0-9]{4,}"
    return c.select(
        "c_custkey",
        F.regexp_replace(
            F.regexp_replace(raw, email, "<EMAIL>"), nums, "<NUM>"
        ).alias("redacted"),
        F.size(F.regexp_extract_all(raw, F.lit(email), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(nums), 0)).cast("long").alias("n_long_nums"),
    )


# =============================================================================
# Exact stratified sample — k per stratum, deterministic order
# =============================================================================


@query(
    "sample_stratified_exact",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
    category="llm-text",
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k=20 documents per language, chosen by hash order — a
    deterministic stratified sample (same rows on every engine and run),
    the eval-set carving primitive.

    Scale shape: rank-within-stratum is a single hash-partitioned window;
    skewed strata are bounded because only the top-k per partition survive
    (Spark's WindowGroupLimit pushes the rn<=20 limit below the sort)."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


# =============================================================================
# MinHash LSH, deterministic form — banding oracle-checked end-to-end
# =============================================================================


@query(
    "dedup_minhash_banded",
    oracle="""
    WITH g AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           UNNEST(range(1, len(ws) - 1)) AS t(i)
    ),
    h AS (
      SELECT doc_id, j,
             MIN(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || gram), 1, 15))::BIGINT)
               AS mh
      FROM g, UNNEST(range(0, 8)) AS t(j)
      GROUP BY doc_id, j
    ),
    b AS (
      SELECT doc_id, j // 2 AS band,
             CAST(MIN(CASE WHEN j % 2 = 0 THEN mh END) AS VARCHAR) || ':' ||
             CAST(MIN(CASE WHEN j % 2 = 1 THEN mh END) AS VARCHAR) AS sig
      FROM h GROUP BY doc_id, j // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.sig = b2.sig AND a.doc_id < b2.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS ni
      FROM cand c
      JOIN g ga ON ga.doc_id = c.id_a
      JOIN g gb ON gb.doc_id = c.id_b AND ga.gram = gb.gram
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.id_a
    JOIN sz sb ON sb.doc_id = i.id_b
    WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.4
    """,
    category="llm-dedup",
)
def dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding with *deterministic* hash functions (md5-prefix,
    reproducible in SQL), so the entire approximate pipeline — signatures,
    band bucketing, candidate pairs, exact-Jaccard verification — is
    oracle-checked bit-for-bit, unlike library MinHashLSH whose random
    hyperplanes are engine-private (that variant is `dedup_minhash_lsh`).

    k=8 hash functions in 4 bands of 2 (band-collision probability
    1-(1-j²)⁴ ≈ .50 at j=.4). Scale shape: shuffles carry (doc_id, gram) and
    fixed-width signatures only; band self-join keys on (band, sig) —
    identical to the posting-list pattern, hot buckets bounded by band width."""
    # one SQL text over the memoized view (r14): the 10-stage Column pipeline
    # cost ~3,900 py4j round trips per build with zero actions — construction
    # was almost pure socket latency. Result equality vs the retained Column
    # form is pinned by tests/test_sqltext_builders.py (sorted-row identity;
    # the cross-engine DuckDB oracle additionally pins every value).
    dv = view(spark, sf_dir, "documents")
    return spark.sql(f"""
        WITH g AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   explode(zip_with(
                     slice(ws, 1, size(ws) - 2),
                     zip_with(slice(ws, 2, size(ws) - 2), slice(ws, 3, size(ws) - 2),
                              (a, b) -> concat(a, ' ', b)),
                     (a, bc) -> concat(a, ' ', bc))) AS gram
            FROM (SELECT doc_id, split(text, ' ') AS ws FROM {dv})
          )
        ),
        h AS (
          SELECT doc_id, j,
                 MIN(CAST(conv(substring(md5(concat(CAST(j AS STRING), ':', gram)),
                                         1, 15), 16, 10) AS BIGINT)) AS mh
          FROM (SELECT doc_id, gram, explode(sequence(0, 7)) AS j FROM g)
          GROUP BY doc_id, j
        ),
        b AS (
          SELECT doc_id, j div 2 AS band,
                 concat(CAST(MIN(CASE WHEN j % 2 = 0 THEN mh END) AS STRING), ':',
                        CAST(MIN(CASE WHEN j % 2 = 1 THEN mh END) AS STRING)) AS sig
          FROM h GROUP BY doc_id, j div 2
        ),
        cand AS (
          SELECT DISTINCT ba.doc_id AS id_a, bb.doc_id AS id_b
          FROM b ba JOIN b bb ON ba.band = bb.band AND ba.sig = bb.sig
          WHERE ba.doc_id < bb.doc_id
        ),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        inter AS (
          SELECT id_a, id_b, COUNT(*) AS ni
          FROM cand
          JOIN g ga ON ga.doc_id = cand.id_a
          JOIN g gb ON gb.doc_id = cand.id_b AND gb.gram = ga.gram
          GROUP BY id_a, id_b
        )
        SELECT id_a, id_b,
               CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) AS jaccard
        FROM inter
        JOIN sz sa ON sa.doc_id = inter.id_a
        JOIN sz sb ON sb.doc_id = inter.id_b
        WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.4
    """)


# =============================================================================
# TF-IDF term scoring — inverted-index statistics without float logs
# =============================================================================


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    s AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, score FROM (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM s
    ) WHERE rk <= 3
    """,
    category="llm-text",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword-extraction / relevance
    primitive. The idf is kept as the raw ratio N/df instead of log(N/df):
    rank order within a document is identical (log is monotone) and the
    division is a single same-input double op, bit-identical across engines —
    float log is not.

    Scale shape: tf and df are both two-phase aggregations over the exploded
    (doc_id, term) stream; df is VOCABULARY-sized, so the join back routes
    broadcast-vs-shuffle on the same guarded count as the BPE word table
    (round-10: web corpora have 1e8-1e9 distinct terms — an unguarded
    broadcast is the scale-killer class the r9 verdict named); top-3 rides
    WindowGroupLimit, no global sort."""
    from ..operators import bpe as _bpe

    d = load(spark, sf_dir, "documents")
    n_docs = d.count()  # one tiny job; the scalar both engines agree on
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = w.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # checkpoint the vocabulary-sized df table so the routing count and the
    # join consume ONE exploded-term aggregation (same one-scan stance as
    # bpe_tokenize); one routing policy for every vocabulary-sized join
    df = (
        w.groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .localCheckpoint(eager=False)
    )
    s = _bpe.join_encoded_words(
        tf, df, key="term", n_words=_bpe._distinct_word_count(df.select("term"))
    ).select(
        "doc_id",
        "term",
        ((F.col("tf") * n_docs).cast("double") / F.col("df").cast("double")).alias("score"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        s.select("doc_id", "term", "score", F.row_number().over(win).alias("rk"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "score")
    )


# =============================================================================
# Sequence packing (pretraining batch preparation)
# =============================================================================


@query(
    "pack_training_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    pos AS (
      -- CAST: DuckDB SUM(BIGINT) window is HUGEINT -> float64 in pandas,
      -- which the driver's value-hasher sees as "162.0" vs Spark's "162"
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_pos
      FROM toks
    )
    SELECT doc_id, source, n_tokens, start_pos,
           CAST(FLOOR(start_pos / 512) AS BIGINT) AS seq_id,
           CAST(FLOOR((start_pos + n_tokens - 1) / 512) AS BIGINT)
             <> CAST(FLOOR(start_pos / 512) AS BIGINT) AS spans_boundary
    FROM pos
    """,
    category="llm-curation",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batches: concatenate each source's
    docs (in doc_id order) into one token stream and cut fixed 512-token
    sequences — per doc: its start offset, owning sequence id, and whether it
    straddles a sequence boundary. Packing is per-source (the sharded form —
    each shard packs independently and in parallel; a global single stream
    would serialize the window). Cumulative position is one window cumsum;
    everything stays JVM-side."""
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    pos = toks.withColumn(
        "start_pos", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return pos.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_pos",
        F.floor(F.col("start_pos") / 512).cast("long").alias("seq_id"),
        (
            F.floor((F.col("start_pos") + F.col("n_tokens") - 1) / 512)
            != F.floor(F.col("start_pos") / 512)
        ).alias("spans_boundary"),
    )


@query(
    "curation_temperature_mix",
    oracle="""
    WITH counts AS (
      SELECT source, SUM((n_chars + 3) // 4) AS toks
      FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source, toks,
             CAST(FLOOR(1000 * SQRT(
               CAST((SELECT MIN(toks) FROM counts) AS DOUBLE) / toks)) AS BIGINT)
               AS permille
      FROM counts
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM((d.n_chars + 3) // 4) AS BIGINT) AS toks_kept,
           MAX(r.permille) AS permille
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE ((d.doc_id % 1000) * 2654435761 + 97) % 1000 < r.permille
    GROUP BY d.source
    """,
    category="llm-curation",
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted source mixing (alpha = 0.5): every pretraining
    recipe flattens the source distribution by sampling source i at a rate
    proportional to share_i^(alpha-1), so post-sample mass tends toward
    share^alpha. Rates derive from per-source token totals (smallest source
    keeps 100%, a 4x-larger source keeps ~50%); the keep decision is the
    same integer multiplicative hash as ``sample_weighted_hash``, and the
    rate itself is floor(1000*sqrt(min/n)) — IEEE double sqrt/divide are
    correctly rounded, so ANY engine derives the identical permille. The
    rates table is tiny (one row per source) and broadcast-joins to docs."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = F.expr("(n_chars + 3) div 4")
    counts = docs.groupBy("source").agg(F.sum(toks).alias("toks"))
    min_toks = F.min("toks").over(Window.partitionBy(F.lit(1)))
    rates = counts.withColumn(
        "permille",
        F.floor(
            F.lit(1000)
            * F.sqrt(min_toks.cast("double") / F.col("toks").cast("double"))
        ).cast("long"),
    ).select("source", "permille")
    # doc_id is reduced mod 1000 BEFORE the multiply so the product stays
    # ≤ 999·2654435761 ≈ 2.7e12 — far inside int64 on BOTH engines (the raw
    # product overflows DuckDB's checked int64 for doc_id ≳ 3.4e9, i.e. at
    # large scale factors; Spark non-ANSI would silently wrap instead)
    bucket = F.pmod(
        F.pmod(F.col("doc_id").cast("bigint"), F.lit(1000))
        * F.lit(2654435761).cast("bigint")
        + F.lit(97),
        F.lit(1000),
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(bucket < F.col("permille"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum(toks).alias("toks_kept"),
            F.max("permille").alias("permille"),
        )
    )


# =============================================================================
# Host/URL-level curation (C4 / CCNet lineage, round 9)
# =============================================================================

# Messy crawl-style URL synthesized deterministically from document metadata
# (the provenance column every web corpus carries; the fixture tables have
# no URL, so — like string_url_parse — the construction is the ground truth
# the oracle re-derives). Deliberately dirty: mixed-case scheme/host,
# default and explicit ports, tracking parameters on either side of the
# real one, fragments, trailing slashes.
def _messy_url():
    did = F.col("doc_id")
    scheme = (
        F.when(did % 3 == 0, "HTTPS").when(did % 3 == 1, "https").otherwise("http")
    )
    host = F.when(
        did % 2 == 0,
        F.concat(F.col("lang"), F.lit("."), F.upper("source"), F.lit(".Example.COM")),
    ).otherwise(
        F.concat(F.col("lang"), F.lit("."), F.col("source"), F.lit(".example.com"))
    )
    port = (
        F.when((did % 5 == 0) & (did % 3 != 2), ":443")
        .when((did % 5 == 0) & (did % 3 == 2), ":80")
        .when(did % 5 == 1, ":8080")
        .otherwise("")
    )
    path = F.concat(
        F.lit("/corpus/"), F.col("lang"), F.when(did % 7 == 0, "/").otherwise("")
    )
    doc_param = F.concat(F.lit("doc="), did.cast("string"))
    q = (
        F.when(did % 4 == 0, F.concat(F.lit("utm_source=feed&"), doc_param))
        .when(did % 4 == 1, F.concat(doc_param, F.lit("&fbclid=x"), did.cast("string")))
        .when(did % 4 == 2, F.concat(F.lit("gclid=g&"), doc_param, F.lit("&utm_campaign=c")))
        .otherwise(doc_param)
    )
    frag = F.when(did % 6 == 0, "#section-2").otherwise("")
    return F.concat(scheme, F.lit("://"), host, port, path, F.lit("?"), q, frag)


def _canonical_parts(url):
    """Real URL surgery on the STRING (the operator under test — the oracle
    re-derives the result from the construction formula instead): lowercase
    scheme+host, strip default ports (443/https, 80/http), drop the
    fragment, drop tracking params (utm_*, fbclid, gclid) preserving the
    order of the rest, strip one trailing slash off a non-root path."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    auth = F.parse_url(url, F.lit("AUTHORITY"))
    host = F.lower(F.regexp_extract(auth, r"^([^:]*)", 1))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    port = F.when(
        ((scheme == "https") & (port == "443"))
        | ((scheme == "http") & (port == "80"))
        | (port == ""),
        "",
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.parse_url(url, F.lit("PATH"))
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.regexp_replace(path, "/$", ""),
    ).otherwise(path)
    query = F.array_join(
        F.filter(
            F.split(F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit("")), "&"),
            lambda p: ~(
                p.startswith("utm_") | p.startswith("fbclid=") | p.startswith("gclid=")
            )
            & (p != ""),
        ),
        "&",
    )
    return scheme, host, port, path, query


def _canonical_url_cols(docs: DataFrame) -> DataFrame:
    # the Column trees below are DataFrame-independent (unresolved
    # expressions over column NAMES) and cost ~2k py4j round trips to build
    # — built once per JVM and reused across laps/queries (util.session_exprs,
    # r14). Identical Column objects ⇒ identical plans by construction.
    def build() -> tuple:
        url = _messy_url()
        scheme, host, port, path, query = _canonical_parts(F.col("url"))
        canon = F.concat(
            scheme,
            F.lit("://"),
            host,
            port,
            F.col("_path"),
            F.when(F.col("_q") != "", F.concat(F.lit("?"), F.col("_q"))).otherwise(""),
        )
        return url, path, query, host, canon

    url, path, query, host, canon = session_exprs(
        docs.sparkSession, ("curation_canonical_url_cols",), build
    )
    return (
        docs.withColumn("url", url)
        .withColumn("_path", path)
        .withColumn("_q", query)
        .withColumn("host", host)
        .withColumn("url_canonical", canon)
        .drop("_path", "_q")
    )


@query(
    "curation_url_canonicalize",
    oracle="""
    SELECT doc_id,
           lang || '.' || source || '.example.com' AS host,
           (CASE WHEN doc_id % 3 = 2 THEN 'http' ELSE 'https' END)
           || '://' || lang || '.' || source || '.example.com'
           || (CASE WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
           || '/corpus/' || lang
           || '?doc=' || CAST(doc_id AS VARCHAR) AS url_canonical
    FROM documents
    """,
    category="llm-curation",
)
def curation_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (C4/CCNet provenance hygiene): lowercase
    scheme+host, strip default ports and fragments, drop tracking params
    (utm_*/fbclid/gclid) keeping the remaining query order, trim the
    trailing slash — pure JVM string surgery (regexp + parse_url + array
    filter) on deliberately messy synthesized URLs. The oracle re-derives
    every canonical form from the construction formula, so the whole
    surgery chain is pinned: any case/port/param/slash the canonicalizer
    misses hash-mismatches."""
    docs = load(spark, sf_dir, "documents")
    return _canonical_url_cols(docs).select("doc_id", "host", "url_canonical")


@query(
    "curation_host_cap",
    oracle="""
    WITH hosted AS (
      SELECT doc_id, text, n_chars,
             lang || '.' || source || '.example.com' AS host
      FROM documents
    ),
    ranked AS (
      SELECT host, n_chars,
             ROW_NUMBER() OVER (PARTITION BY host
                                ORDER BY md5(text), doc_id) AS rk
      FROM hosted
    )
    SELECT host,
           CAST(COUNT(*) FILTER (WHERE rk <= 8) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE rk > 8) AS BIGINT) AS n_dropped,
           CAST(SUM((n_chars + 3) // 4) FILTER (WHERE rk <= 8) AS BIGINT)
             AS toks_kept
    FROM ranked GROUP BY host
    """,
    category="llm-curation",
)
def curation_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-HOST document cap (the domain-balance rule web corpora apply so
    a single crawl-heavy site cannot dominate training): host comes from
    the CANONICALIZED url — the composition with curation_source_cap's
    md5-ranked deterministic shuffle, K=8 per host. One window over the
    host-partitioned shuffle; no global sort, no collect. NULLS LAST
    pinned explicitly (round-10 advice): Spark ASC defaults NULLS FIRST,
    DuckDB's ROW_NUMBER defaults NULLS LAST — md5(NULL text) would rank
    differently cross-engine if fixtures ever gain NULL-text docs (same
    pin as curation_token_budget_bpe)."""
    docs = load(spark, sf_dir, "documents")
    hosted = _canonical_url_cols(docs)
    w = Window.partitionBy("host").orderBy(
        F.md5("text").asc_nulls_last(), "doc_id"
    )
    toks = F.expr("(n_chars + 3) div 4")
    return (
        hosted.withColumn("rk", F.row_number().over(w))
        .groupBy("host")
        .agg(
            F.count(F.when(F.col("rk") <= 8, 1)).alias("n_kept"),
            F.count(F.when(F.col("rk") > 8, 1)).alias("n_dropped"),
            F.sum(F.when(F.col("rk") <= 8, toks)).cast("long").alias("toks_kept"),
        )
    )


@query(
    "curation_host_dedup",
    oracle="""
    WITH hosted AS (
      SELECT doc_id, md5(lower(trim(text))) AS fp,
             lang || '.' || source || '.example.com' AS host
      FROM documents
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN is_keeper THEN doc_id ELSE 0 END) AS BIGINT)
             AS keeper_id_sum
    FROM (
      SELECT host, doc_id, fp,
             doc_id = MIN(doc_id) OVER (PARTITION BY host, fp) AS is_keeper
      FROM hosted
    ) GROUP BY host
    """,
    category="llm-curation",
)
def curation_host_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOST-scoped exact dedup (site boilerplate collapse: the same page
    mirrored across one site keeps its first copy, while legitimate
    cross-site duplicates survive for the global pass to arbitrate): keeper
    = min doc_id per (canonical host, content fingerprint). Per host:
    doc count, survivor count, and the keeper-id checksum pinning WHICH
    docs won, not just how many."""
    docs = load(spark, sf_dir, "documents")
    hosted = _canonical_url_cols(docs)
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    w = Window.partitionBy("host", "fp")
    return (
        hosted.withColumn("fp", fp)
        .withColumn("is_keeper", F.col("doc_id") == F.min("doc_id").over(w))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_kept"),
            F.sum(F.when(F.col("is_keeper"), F.col("doc_id")).otherwise(F.lit(0)))
            .cast("long")
            .alias("keeper_id_sum"),
        )
    )
