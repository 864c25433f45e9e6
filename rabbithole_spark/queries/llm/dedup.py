"""Deduplication queries: exact/fingerprint, MinHash-LSH, SimHash,
span-level (Lee'22), similarity joins, connected components, incremental.
"""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    SparkSession,
)
from pyspark.sql import functions as F
from rabbithole_spark.catalog import register
from rabbithole_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    spread,
    word_shingles,
)
from rabbithole_spark.operators.similarity import valid_embeddings
from rabbithole_spark.operators.text_analysis import (
    fingerprint,
    tokens,
    word_windows,
)
from rabbithole_spark.session import table
from rabbithole_spark.queries.llm._common import (
    _KMEANS_ITERS,
    _KMEANS_K,
    _dot_sql,
    _lloyd_replay_ctes,
    _sq_l2_sql,
    _valid_embedding_sql,
)


_EXACT_DEDUP_ORACLE = """
SELECT sha256(text) AS content_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents
GROUP BY sha256(text)
"""

@register(
    "dedup_exact_documents",
    oracle=_EXACT_DEDUP_ORACLE,
    doc="Exact content dedup: sha256 digest groupBy, deterministic keeper "
    "(one 32-byte-key shuffle — the 100 TB pre-pass).",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(table(spark, sf_dir, "documents"), "text", "doc_id")

_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(trim(lower(regexp_replace(regexp_replace(text, '[\\.,;:!\\?''"]', '', 'g'), '\\s+', ' ', 'g')))) AS fp
FROM documents
"""

@register(
    "dedup_fingerprint",
    oracle=_FINGERPRINT_ORACLE,
    doc="Canonical-form md5 fingerprint (lowercase, collapsed whitespace, "
    "punctuation stripped) — reformat-tolerant dedup key.",
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))

_PREFIX_JACCARD_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
             i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')
           )
         ) AS shingles
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.2
"""

@register(
    "dedup_jaccard_prefix_filter",
    oracle=_PREFIX_JACCARD_ORACLE,
    doc="Exact CORPUS-WIDE Jaccard similarity join via prefix filtering "
    "(AllPairs/SSJoin, Bayardo WWW'07): candidates are pairs sharing "
    "a token in their rarest-first prefix of length n - ceil(n/5) + 1, "
    "which provably contains every pair with Jaccard >= 0.2 — the "
    "scale-correct replacement for both metadata blocking (which "
    "misses cross-block pairs; the old verifier-tier quadratic was "
    "retired in round 5) and a full O(n^2) join, with zero recall "
    "loss unlike LSH. The "
    "oracle is the naive unblocked quadratic, so the green row "
    "certifies completeness, not just self-consistency; "
    "tests/test_llm_operators.py additionally asserts the candidate "
    "count is far below n^2/2.",
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.dedup import prefix_filtered_jaccard_pairs

    d = spread(table(spark, sf_dir, "documents"))
    return prefix_filtered_jaccard_pairs(
        d, "doc_id", "text", k=3, t_num=1, t_den=5
    )

_COMPONENTS_ORACLE = """
WITH RECURSIVE sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
             i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')
           )
         ) AS shingles
  FROM documents
),
-- MATERIALIZED: DuckDB inlines CTEs by default, and the recursive
-- closure below references edges in every iteration — without
-- materialization the quadratic pair computation re-runs per
-- iteration (observed: minutes -> hours at sf0.1)
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.2
),
edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src
"""

@register(
    "dedup_components",
    oracle=_COMPONENTS_ORACLE,
    doc="Near-dup pairs -> dedup GROUPS: iterative min-label propagation "
    "(driver loop over join+groupBy rounds, localCheckpoint per round) "
    "oracle-checked against a DuckDB recursive-CTE transitive closure — "
    "the iterative-algorithm shape (GraphX-style) on plain DataFrames. "
    "Pairs come from the prefix-filtered EXACT Jaccard join (round 5; "
    "previously the (lang, len_band)-blocked quadratic), so the whole "
    "pairs -> groups chain is the plan you'd run at 100 TB.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.dedup import (
        connected_components,
        prefix_filtered_jaccard_pairs,
    )

    d = spread(table(spark, sf_dir, "documents"))
    pairs = prefix_filtered_jaccard_pairs(
        d, "doc_id", "text", k=3, t_num=1, t_den=5
    )
    return connected_components(pairs)

#: The oracles' shingle relation — identical semantics to
#: operators.dedup.word_shingles(k=3): RE2 \s == the explicit
#: [ \t\n\r\f]+ class the Spark side tokenizes with. The word list is
#: bound ONCE in a subquery (not re-split per shingle index), and NULL
#: text is excluded to match the Spark side's explicit isNotNull guard
#: (Spark's concat_ws would squash a NULL slice to '' and hash it; the
#: oracle's split would propagate NULL — the divergence class round 5
#: fixed in corpus_snapshot_diff/source_overlap_matrix).
_SHINGLES_CTE = """sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, greatest(len(w) - 2, 1) + 1),
             i -> array_to_string(list_slice(w, i, i + 2), ' ')
           )
         ) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents WHERE text IS NOT NULL)
)"""

def _minhash_lsh_oracle(threshold: float) -> str:
    """Full MinHash+LSH replay in the oracle dialect.

    Rounds 1-5 classified this query rows-only ("no oracle can replay
    xxhash64"); functions/xxh64_sql.py retires that excuse with a
    bit-exact pure-SQL XXH64.  The oracle replays the ENTIRE pipeline:
    per-shingle base hash pmod(xxh64, 2^31-1) with Java's truncated-%%
    semantics, the 64 universal-hash min-aggregates with the SAME
    (a, b) coefficient literals the Spark side uses, the 16 band
    hashes xxh64(concat_ws(',', slice)) over the identical decimal
    string rendering, the bucket self-join, and the exact-Jaccard
    candidate verification — so a seed drift, a banding bug, or a
    hash change breaks the driver's hash gate, not just a recall test.
    """
    from rabbithole_spark.functions.xxh64_sql import xxh64_unsigned_sql
    from rabbithole_spark.operators.dedup import _MINHASH_P, _minhash_coeffs

    p = _MINHASH_P
    base = (
        f"list_transform([{xxh64_unsigned_sql('s')}], __u -> "
        f"(((CASE WHEN __u >= {1 << 63}::HUGEINT THEN __u - {1 << 64}::HUGEINT"
        f" ELSE __u END) % {p} + {p}) % {p}))[1]::BIGINT"
    )
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {p})" for a, b in _minhash_coeffs(64)
    )
    band_str = (
        "array_to_string(list_slice(ms, t.range * 4 + 1, t.range * 4 + 4), ',')"
    )
    jac = (
        "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
        " / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)"
    )
    return f"""
WITH {_SHINGLES_CTE},
hx AS (
  SELECT doc_id, {base} AS h
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
),
sig AS (
  SELECT doc_id, [{mins}] AS ms
  FROM hx GROUP BY doc_id
),
banded AS (
  SELECT doc_id, t.range AS band, {xxh64_unsigned_sql(band_str)} AS bh
  FROM sig CROSS JOIN range(0, 16) t
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
)
SELECT c.id_a, c.id_b, round({jac}, 6) AS jaccard
FROM cand c
JOIN sh a ON a.doc_id = c.id_a
JOIN sh b ON b.doc_id = c.id_b
WHERE {jac} >= {threshold}
"""

@register(
    "dedup_minhash_lsh",
    oracle=_minhash_lsh_oracle(0.2),
    doc="MinHash+LSH near-dup candidates (64 hashes, 16 bands x 4 rows), "
    "confirmed by exact Jaccard on the candidate set only — the linear-"
    "shuffle approximate dedup for 100 TB corpora. Hash-green since "
    "round 6: the oracle replays xxhash64 itself (functions/"
    "xxh64_sql.py), so the whole signature/banding pipeline is "
    "externally verified, not just its recall contract.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_verified_pairs(
        spread(table(spark, sf_dir, "documents")), threshold=0.2
    )

def _lsh_verified_pairs(d: DataFrame, threshold: float) -> DataFrame:
    """Shared LSH-candidate -> exact-Jaccard-verified pipeline
    (dedup_minhash_lsh at 0.2; dedup_minhash_recall_audit at 0.8).

    NULL-text docs are excluded explicitly: Spark's concat_ws would
    squash a NULL slice to '' and give the doc a real signature, while
    the oracles' split propagates NULL and drops it — the cross-engine
    divergence class round 5 eliminated elsewhere (coalesce-hash
    guards). A NULL document has no content to dedup; both engines now
    agree it does not participate.
    """
    d = d.filter(F.col("text").isNotNull())
    sh = d.select(
        "doc_id",
        word_shingles(F.col("text"), 3).alias("shingles"),
    )
    signed = minhash_signatures(sh, "doc_id", "shingles", 64)
    pairs = lsh_candidate_pairs(
        signed, "doc_id", bands=16, rows_per_band=4, signature_len=64
    )
    # Materialize the (tiny) candidate-pair set, then recompute shingles
    # ONLY for docs that appear in a pair: exact-Jaccard verification
    # costs O(candidates), not O(corpus). Joining the full-corpus
    # shingle relation back in (the naive shape) shuffles every
    # document's shingle array twice — at 100 TB that's the bottleneck;
    # here the candidate set broadcasts and the corpus is scanned with a
    # broadcast semi-join BEFORE the expensive shingle projection.
    pairs = pairs.localCheckpoint(eager=True)
    cand = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    cand_sh = d.join(F.broadcast(cand), "doc_id").select(
        "doc_id", word_shingles(F.col("text"), 3).alias("shingles")
    )
    a = cand_sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = cand_sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    # filter on the RAW ratio (the oracle's WHERE clause does the
    # same) and round only for output — filtering the rounded value
    # would admit pairs within 5e-7 below the threshold that the
    # oracle rejects
    # |A∪B| = |A|+|B|-|A∩B| on distinct shingle sets — bit-equal
    # jaccard, one array walk per pair instead of two (round 12)
    _inter = F.size(F.array_intersect("sh_a", "sh_b"))
    raw = _inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - _inter
    ).cast("double")
    verified = (
        pairs.join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .withColumn("_raw", raw)
        .filter(F.col("_raw") >= threshold)
        .select("id_a", "id_b", F.round("_raw", 6).alias("jaccard"))
    )
    return verified

_MINHASH_RECALL_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
             i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')
           )
         ) AS shingles
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.8
"""

@register(
    "dedup_minhash_recall_audit",
    oracle=_MINHASH_RECALL_ORACLE,
    doc="Externally hash-verified recall contract for the MinHash-LSH "
    "path (complementing dedup_minhash_lsh's round-6 full-replay "
    "oracle — this one proves recall==1.0 vs the naive quadratic, "
    "that one proves hash fidelity): the SAME signature/banding pipeline (64 "
    "hashes, 16 bands x 4 rows), exact-verified at Jaccard >= 0.8, "
    "must return exactly the naive quadratic's true pair set. At "
    "J=0.8 a pair evades all 16 bands with probability (1-0.8^4)^16 "
    "~= 2e-4, and the corpus's planted near-dups sit well above the "
    "threshold, so recall is deterministically 1.0 on this data "
    "(measured EQUAL at all three SFs before registration) — a "
    "banding miss, seed drift, or hash change breaks the hash match "
    "at the driver gate. The 0.2-threshold production query keeps "
    "its candidate-set semantics (LSH at 0.2 is intentionally "
    "low-recall for low-similarity pairs; the exact prefix-filter "
    "join covers that regime).",
)
def dedup_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_verified_pairs(
        spread(table(spark, sf_dir, "documents")), threshold=0.8
    )

_SPAN_K = 20

def _dup_spans_oracle() -> str:
    """Replays the duplicated-span scan: per-position 20-token gram
    hashes (xxh64 of the space-joined gram — the same reduced key the
    Spark side shuffles), corpus-wide multiplicity, per-doc rollup."""
    from rabbithole_spark.functions.xxh64_sql import xxh64_sql

    k = _SPAN_K
    grams = (
        f"list_transform(range(1, greatest(len(w) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice(w, i, i + {k - 1}), ' '))"
    )
    return f"""
WITH ex AS MATERIALIZED (
  SELECT doc_id, {xxh64_sql('gram')} AS h
  FROM (
    SELECT doc_id, unnest({grams}) AS gram
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
          FROM documents WHERE text IS NOT NULL))
),
dup AS (SELECT h FROM ex GROUP BY h HAVING count(*) > 1)
SELECT e.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       round(CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
FROM ex e LEFT JOIN dup d ON e.h = d.h
GROUP BY e.doc_id
"""

@register(
    "dedup_duplicate_ngram_spans",
    oracle=_dup_spans_oracle(),
    doc="Exact duplicated-SPAN detection (the substring-level dedup "
    "pass training pipelines run after document-level dedup — "
    "boilerplate and quoted passages duplicate spans, not whole "
    "docs): every 20-token gram position is hashed (xxhash64 — an "
    "8-byte shuffle key instead of a ~120-byte string), grams "
    "occurring 2+ times corpus-wide are flagged, and each doc "
    "reports its duplicated-gram ratio. All shuffles are linear in "
    "corpus token count; the exploded (doc, hash) relation feeds "
    "both the multiplicity agg and the join-back, so it is "
    "localCheckpoint'd once (NOTES lesson 9). The oracle replays "
    "the gram hashing bit-exactly via functions/xxh64_sql.py.",
)
def dedup_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _SPAN_K
    # NULL-text guard: see _lsh_verified_pairs
    d = spread(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    gram_hashes = F.transform(
        word_windows(tokens(F.col("text")), k), lambda g: F.xxhash64(g)
    )
    ex = d.select(
        "doc_id", F.explode_outer(gram_hashes).alias("h")
    ).localCheckpoint(eager=False)
    dup = (
        ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("h", F.lit(1).alias("is_dup"))
    )
    return (
        ex.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.round(
                F.col("n_dup_grams").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("dup_ratio"),
        )
    )

def _span_coverage_oracle() -> str:
    """Replays the repeated-span COVERAGE pass: the same per-position
    20-token gram hashes as _dup_spans_oracle, corpus-wide multiplicity
    via a window over the hash, then the classic gaps-and-islands merge
    of the overlapping repeated windows [pos, pos+19] per doc and the
    covered-word rollup."""
    from rabbithole_spark.functions.xxh64_sql import xxh64_sql

    k = _SPAN_K
    grams = (
        f"list_transform(range(1, greatest(len(w) - {k - 1}, 1) + 1), "
        f"i -> {{'pos': CAST(i AS BIGINT), "
        f"'gram': array_to_string(list_slice(w, i, i + {k - 1}), ' ')}})"
    )
    return f"""
WITH g AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, unnest({grams}) AS u
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents WHERE text IS NOT NULL)
), ex AS MATERIALIZED (
  SELECT doc_id, u.pos AS pos,
         least(u.pos + {k - 1}, n_words) AS fin,
         {xxh64_sql("u.gram")} AS h
  FROM g
), marked AS (
  SELECT doc_id, pos, fin,
         max(fin) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS prev_end
  FROM (SELECT doc_id, pos, fin,
               count(*) OVER (PARTITION BY h) AS n_occ FROM ex)
  WHERE n_occ > 1
), islands AS (
  SELECT doc_id, pos, fin,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM marked
), cov AS (
  SELECT doc_id, island, max(fin) - min(pos) + 1 AS covered
  FROM islands GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id, CAST(sum(covered) AS BIGINT) AS repeated_words
  FROM cov GROUP BY doc_id
), docs AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_words
  FROM documents WHERE text IS NOT NULL
)
SELECT d.doc_id, d.n_words,
       coalesce(p.repeated_words, CAST(0 AS BIGINT)) AS repeated_words,
       round(CAST(coalesce(p.repeated_words, 0) AS DOUBLE)
             / CAST(d.n_words AS DOUBLE), 6) AS repeated_frac
FROM docs d LEFT JOIN per_doc p USING (doc_id)
"""

@register(
    "dedup_repeated_span_coverage",
    oracle=_span_coverage_oracle(),
    doc="Repeated-span COVERAGE (the removal-extent companion to "
    "dedup_duplicate_ngram_spans, after Lee et al. 2022, "
    "arXiv:2107.06499 'Deduplicating Training Data Makes Language "
    "Models Better'): overlapping 20-token windows repeated anywhere "
    "in the corpus are MERGED per doc (gaps-and-islands over window "
    "positions), and each doc reports how many of its words an "
    "exact-substring dedup pass would actually excise — overlapping "
    "windows must not double-count, which the per-gram ratio cannot "
    "express. Scale shape: one linear shuffle keys the corpus-wide "
    "multiplicity window on the 8-byte gram hash, one more keys the "
    "island merge on doc_id, and the groupBys reuse the doc_id "
    "partitioning; only rows from REPEATED windows (typically a "
    "small fraction) survive to the merge. The oracle replays gram "
    "hashing (xxh64) and the island arithmetic bit-exactly.",
)
def dedup_repeated_span_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    k = _SPAN_K
    # NULL-text guard: see _lsh_verified_pairs
    d = spread(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    words = tokens(F.col("text"))
    n = F.size(words).cast("long")
    gram_hashes = F.transform(word_windows(words, k), lambda g: F.xxhash64(g))
    ex = d.select(
        "doc_id",
        n.alias("n_words"),
        F.posexplode_outer(gram_hashes).alias("p0", "h"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).cast("long").alias("pos"),
        F.least(F.col("p0").cast("long") + k, F.col("n_words")).alias("fin"),
        "h",
    )
    rep = ex.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("n_occ") > 1)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("fin").over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = rep.withColumn(
        "is_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("is_new").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_doc = (
        islands.groupBy("doc_id", "island")
        .agg((F.max("fin") - F.min("pos") + 1).alias("covered"))
        .groupBy("doc_id")
        .agg(F.sum("covered").alias("repeated_words"))
    )
    docs = d.select("doc_id", n.alias("n_words"))
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.coalesce("repeated_words", F.lit(0)).cast("long").alias(
            "repeated_words"
        ),
        F.round(
            F.coalesce("repeated_words", F.lit(0)).cast("double")
            / F.col("n_words").cast("double"),
            6,
        ).alias("repeated_frac"),
    )

def _simhash_oracle() -> str:
    """SimHash replay in the oracle dialect: xxh64 (unsigned) per
    distinct shingle, 64 per-bit +1/-1 vote sums, positive votes OR'd
    (summed — powers of two are disjoint) into the signature, then the
    unsigned word reinterpreted as Spark's signed long."""
    from rabbithole_spark.functions.xxh64_sql import xxh64_unsigned_sql

    votes = ",\n         ".join(
        f"sum(CASE WHEN ((u >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END)"
        for b in range(64)
    )
    return f"""
WITH {_SHINGLES_CTE},
hx AS (
  SELECT doc_id, {xxh64_unsigned_sql('s')} AS u
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hx GROUP BY doc_id
)
SELECT doc_id,
       list_transform([{sig}], __s ->
         CASE WHEN __s >= {1 << 63}::HUGEINT THEN __s - {1 << 64}::HUGEINT
              ELSE __s END)[1]::BIGINT AS simhash
FROM votes
"""

@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc="64-bit SimHash signatures over word shingles, fully JVM-side "
    "(explode + 64 partial-aggregable bit votes); near-dups share "
    "signatures at small Hamming distance. Hash-green since round 6: "
    "the oracle replays xxhash64 (functions/xxh64_sql.py) and the "
    "full bit-vote fold, value-exact per document.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-text guard: see _lsh_verified_pairs — the oracle's split
    # drops NULL docs, Spark's concat_ws would signature them
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return simhash(spread(d), "text", "doc_id")

_CANONICAL_SURVIVORS_ORACLE = f"""
{_COMPONENTS_ORACLE.replace("SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src",
                            ", comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)")}
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
WHERE comp.doc_id IS NULL OR comp.component = comp.doc_id
"""

@register(
    "dedup_canonical_survivors",
    oracle=_CANONICAL_SURVIVORS_ORACLE,
    doc="The dedup family's OUTPUT step: near-dup pairs -> connected "
    "components -> keep exactly one canonical document per duplicate "
    "cluster (the min doc_id, i.e. the component label) plus every "
    "unpaired document. An anti-join of the corpus against the "
    "non-canonical member set — digest-sized rows through the "
    "shuffle, the corpus itself never re-partitions. Pair-source-"
    "agnostic: wired here to the prefix-filtered EXACT Jaccard join "
    "(round 5; previously the blocked n-gram quadratic) so the whole "
    "closure is scale-correct AND oracle-replayable in SQL; at 100 TB "
    "the LSH candidates (dedup_minhash_lsh) slot in identically.",
)
def dedup_canonical_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.dedup import (
        connected_components,
        prefix_filtered_jaccard_pairs,
    )

    d = spread(table(spark, sf_dir, "documents"))
    pairs = prefix_filtered_jaccard_pairs(
        d, "doc_id", "text", k=3, t_num=1, t_den=5
    )
    comps = connected_components(pairs)
    losers = comps.filter(F.col("component") != F.col("doc_id")).select("doc_id")
    return (
        table(spark, sf_dir, "documents")
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )

_EDJOIN_ORACLE = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 3
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""

@register(
    "dedup_edit_distance_prefix",
    oracle=_EDJOIN_ORACLE,
    doc="Exact CORPUS-WIDE edit-distance join (d<=3) via q-gram prefix "
    "filtering (Ed-Join, Xiao et al. VLDB'08): one edit disturbs at "
    "most q grams, so matching pairs must share a gram among each "
    "side's d*q+1 rarest grams and differ in length by at most d — "
    "the scale-correct replacement for (brand, size) blocking (the "
    "old verifier-tier quadratic, retired in round 5), finding cross-"
    "block matches that blocking misses with zero recall loss. The "
    "naive quadratic itself, so the green row certifies completeness; "
    "tests/test_llm_operators.py pins candidate pruning.",
)
def dedup_edit_distance_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.dedup import qgram_prefix_edit_pairs

    p = table(spark, sf_dir, "part")
    return qgram_prefix_edit_pairs(
        p, "p_partkey", "p_name", max_dist=3, q=2
    )

_EDJOIN_SPARSE_ORACLE = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       a.s_name AS name_a, b.s_name AS name_b,
       CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS edit_dist
FROM supplier a JOIN supplier b
  ON a.s_suppkey < b.s_suppkey
 AND abs(length(a.s_name) - length(b.s_name)) <= 2
WHERE levenshtein(a.s_name, b.s_name) <= 2
"""

@register(
    "dedup_edit_distance_prefix_sparse",
    oracle=_EDJOIN_SPARSE_ORACLE,
    doc="Ed-Join on a SPARSE key (supplier names, d<=2): the same "
    "q-gram prefix filter as dedup_edit_distance_prefix, but on a key "
    "whose true match set is small relative to n^2 (each name has a "
    "bounded digit-neighborhood), so the naive-quadratic ORACLE is "
    "cheap at every SF and the exact-join family is oracle-green at "
    "sf0.001/0.01/0.1 alike — the part-name variant's oracle is "
    "output-bound at sf0.1 because TPC-H p_name makes the true d<=3 "
    "result quadratic-dense (NOTES.md), which is a property of that "
    "key's distribution, not of the operator.",
)
def dedup_edit_distance_prefix_sparse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from rabbithole_spark.operators.dedup import qgram_prefix_edit_pairs

    s = table(spark, sf_dir, "supplier")
    return qgram_prefix_edit_pairs(
        s, "s_suppkey", "s_name", max_dist=2, q=2
    )

_SEMDEDUP_TAU = 0.35

#: malformed-vector exclusion for the SemDeDup fit/assign input — the
#: same triple the top-k oracles pin (NULL vector, NULL element,
#: zero norm). Without it the oracle's raw dot/(sqrt*sqrt) yields NaN
#: on zero-norm vectors (and DuckDB max() ranks NaN above reals) while
#: the Spark side's cosine() guard returns NULL, which F.max ignores —
#: a latent divergence on malformed corpora (round-7 advice pin).
_SEMDEDUP_FIT_WHERE = _valid_embedding_sql()

def _semdedup_oracle() -> str:
    """DuckDB twin of the SemDeDup query: replay the deterministic
    Lloyd assignment (same CTEs as the k-means oracle) over the
    malformed-vector-excluded corpus, then the within-cluster
    pairwise max-cosine-to-a-lower-id and the threshold flag. Cosine
    uses the identical sequential-fold / sqrt-product expression
    shape as the Spark side, rounded to 6 AFTER the max on both
    engines."""
    k, iters = _KMEANS_K, _KMEANS_ITERS
    ctes, prev = _lloyd_replay_ctes(k, iters, _SEMDEDUP_FIT_WHERE)
    d2 = _sq_l2_sql("f.e", "c.c")
    ctes.append(
        f"af AS (SELECT vec_id, e, cluster FROM (\n"
        f"  SELECT f.vec_id, f.e, c.cluster,\n"
        f"         row_number() OVER (PARTITION BY f.vec_id ORDER BY\n"
        f"           {d2}, c.cluster) AS rn\n"
        f"  FROM fit f CROSS JOIN {prev} c) WHERE rn = 1)"
    )
    cos = (
        f"{_dot_sql('a.e', 'b.e')} / "
        f"(sqrt({_dot_sql('a.e', 'a.e')}) * sqrt({_dot_sql('b.e', 'b.e')}))"
    )
    ctes.append(
        f"pairs AS (SELECT a.vec_id, round(max({cos}), 6) AS max_lower_sim\n"
        f"  FROM af a JOIN af b\n"
        f"    ON a.cluster = b.cluster AND b.vec_id < a.vec_id\n"
        f"  GROUP BY a.vec_id)"
    )
    with_sql = "WITH " + ",\n".join(ctes)
    return f"""{with_sql}
SELECT af.vec_id, af.cluster, p.max_lower_sim,
       coalesce(p.max_lower_sim >= {_SEMDEDUP_TAU}, FALSE) AS is_dup
FROM af LEFT JOIN pairs p ON p.vec_id = af.vec_id
"""

@register(
    "dedup_semantic_semdedup",
    oracle=_semdedup_oracle(),
    doc="SemDeDup-style semantic deduplication (Abbas et al. 2023, "
    "arXiv:2303.09540): cluster the embedding corpus with the "
    "deterministic Lloyd k-means, then compare pairs ONLY within a "
    "cluster — a vector is a semantic duplicate when its cosine to "
    "a lower-id cluster-mate reaches tau (keep-lowest-id policy). "
    "This is the 100 TB shape for embedding-level dedup: the "
    "quadratic compare is bounded per cluster (N^2/k) instead of "
    "corpus-wide, the cluster key is one linear shuffle, and the "
    "assignment itself is row-local against broadcast-literal "
    "centroids. Output: every vector with its cluster, its max "
    "similarity to a lower-id mate (NULL for cluster minima / "
    "singletons), and the dedup flag. The full iterative pipeline — "
    "Lloyd fit, assignment, pairwise max, flag — is replayed in the "
    "oracle, so the check is hash-exact end-to-end.",
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.similarity import (
        cosine,
        kmeans_fit_assign,
        valid_embeddings,
    )

    # same malformed-vector exclusion as _SEMDEDUP_FIT_WHERE: a NULL
    # vector / NULL element / zero-norm vector has no direction, so it
    # can neither seed a centroid nor pair in the cosine stage
    emb = valid_embeddings(table(spark, sf_dir, "embeddings"))
    # carry each vector's norm ON THE ROW into the pair join (round 12,
    # guide §1.2): cosine() evaluates three interpreted zip_with/
    # aggregate folds per PAIR (dot(a,b), dot(a,a), dot(b,b)) — the
    # self-norms are per-VECTOR quantities recomputed O(cluster) times
    # each. sqrt(dot(v,v)) is the identical double whether evaluated
    # per row or per pair, and the when(denom > 0) guard is cosine()'s
    # own, so max_lower_sim is bit-equal with one fold per pair
    # instead of three.
    from rabbithole_spark.operators.similarity import dot, l2_norm

    assigned = (
        kmeans_fit_assign(
            emb,
            "embedding",
            ["vec_id", "embedding"],
            k=_KMEANS_K,
            iters=_KMEANS_ITERS,
        )
        .select("vec_id", "embedding", "cluster")
        .withColumn("nrm", l2_norm(F.col("embedding")))
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    denom = F.col("a.nrm") * F.col("b.nrm")
    sim = F.when(
        denom > 0, dot(F.col("a.embedding"), F.col("b.embedding")) / denom
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(F.round(F.max(sim), 6).alias("max_lower_sim"))
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(pairs, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "max_lower_sim",
            F.coalesce(
                F.col("max_lower_sim") >= _SEMDEDUP_TAU, F.lit(False)
            ).alias("is_dup"),
        )
    )

_INCREMENTAL_DEDUP_ORACLE = """
WITH corpus AS (
  SELECT DISTINCT sha256(coalesce(text, '')) AS content_hash
  FROM documents WHERE source = 'src0'
), incoming AS (
  SELECT sha256(coalesce(text, '')) AS content_hash,
         CAST(min(doc_id) AS BIGINT) AS keep_id,
         CAST(count(*) AS BIGINT) AS n_copies
  FROM documents WHERE source <> 'src0'
  GROUP BY sha256(coalesce(text, ''))
)
SELECT i.content_hash, i.keep_id, i.n_copies
FROM incoming i
WHERE i.content_hash NOT IN (SELECT content_hash FROM corpus)
"""

@register(
    "dedup_incremental_new_docs",
    oracle=_INCREMENTAL_DEDUP_ORACLE,
    doc="Incremental-ingestion dedup: a new batch (source <> src0) "
    "first dedups within itself (sha256 groupBy, deterministic "
    "keeper), then anti-joins the already-ingested corpus (src0) on "
    "the digest — the daily-crawl-vs-historical-corpus shape. Both "
    "sides move only 32-byte keys; at 100 TB the anti join shuffles "
    "on the digest (AQE may still broadcast a small corpus side) and "
    "a bloom-filter pre-pass slots in front unchanged.",
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # coalesce before hashing — same NULL-digest vs NOT-IN divergence
    # guard as corpus_snapshot_diff
    sha = F.sha2(F.coalesce(F.col("text"), F.lit("")).cast("binary"), 256)
    corpus = d.filter(F.col("source") == "src0").select(
        sha.alias("content_hash")
    ).distinct()
    incoming = (
        d.filter(F.col("source") != "src0")
        .select(sha.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    return incoming.join(corpus, "content_hash", "left_anti")

_INGEST_MOD = 10  # doc_id % 10 == 0 -> the "new batch"; else corpus

_INGEST_TAU = 0.2

def _minhash_incremental_oracle() -> str:
    """Full xxhash64 MinHash+LSH replay (same kernel as
    _minhash_lsh_oracle) with the self-join replaced by the
    batch-vs-corpus cross join on the doc_id % mod split."""
    from rabbithole_spark.functions.xxh64_sql import xxh64_unsigned_sql
    from rabbithole_spark.operators.dedup import _MINHASH_P, _minhash_coeffs

    p = _MINHASH_P
    base = (
        f"list_transform([{xxh64_unsigned_sql('s')}], __u -> "
        f"(((CASE WHEN __u >= {1 << 63}::HUGEINT THEN __u - {1 << 64}::HUGEINT"
        f" ELSE __u END) % {p} + {p}) % {p}))[1]::BIGINT"
    )
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {p})" for a, b in _minhash_coeffs(64)
    )
    band_str = (
        "array_to_string(list_slice(ms, t.range * 4 + 1, t.range * 4 + 4), ',')"
    )
    jac = (
        "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
        " / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)"
    )
    return f"""
WITH {_SHINGLES_CTE},
hx AS (
  SELECT doc_id, {base} AS h
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
),
sig AS (
  SELECT doc_id, [{mins}] AS ms
  FROM hx GROUP BY doc_id
),
banded AS (
  SELECT doc_id, t.range AS band, {xxh64_unsigned_sql(band_str)} AS bh
  FROM sig CROSS JOIN range(0, 16) t
),
cand AS (
  SELECT DISTINCT l.doc_id AS batch_id, r.doc_id AS corpus_id
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bh = r.bh
  WHERE l.doc_id % {_INGEST_MOD} = 0 AND r.doc_id % {_INGEST_MOD} <> 0
)
SELECT c.batch_id, c.corpus_id, round({jac}, 6) AS jaccard
FROM cand c
JOIN sh a ON a.doc_id = c.batch_id
JOIN sh b ON b.doc_id = c.corpus_id
WHERE {jac} >= {_INGEST_TAU}
"""

@register(
    "dedup_minhash_incremental",
    oracle=_minhash_incremental_oracle(),
    doc="Incremental near-dup screening of an ingest batch against the "
    "existing corpus (batch = doc_id % 10 == 0, the stand-in for "
    "'today's crawl'): MinHash signatures on both sides, then the "
    "BATCH band relation — small by construction, so the planner "
    "broadcasts it by size — joins the corpus bands, so the corpus "
    "never shuffles on the bucket key; candidates are verified by "
    "exact Jaccard recomputed only for matched docs via broadcast "
    "semi-joins. At 100 TB the corpus signatures/bands would be a "
    "persisted incremental index "
    "(one-time cost, appended per batch) and this query is the "
    "per-batch probe; the digest-exact streaming twin is "
    "stream_ingest_dedup_against_corpus. Oracle: full xxhash64 "
    "replay, same kernel as dedup_minhash_lsh.",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.dedup import lsh_banded

    # spread() before the per-doc signature compute: the single-file
    # documents scan arrives as ONE input split, so without the
    # round-robin repartition the whole corpus-side shingle+minhash
    # pipeline ran on one core (measured 7.9 s at sf0.1; ~2.2 s with
    # full-width parallelism — guide §2.5 input skew). Row-preserving,
    # so results are unchanged.
    d = spread(table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    is_batch = F.col("doc_id") % _INGEST_MOD == 0
    batch, corpus = d.filter(is_batch), d.filter(~is_batch)

    def bands(side: DataFrame) -> DataFrame:
        sh = side.select(
            "doc_id", word_shingles(F.col("text"), 3).alias("shingles")
        )
        return lsh_banded(
            minhash_signatures(sh, "doc_id", "shingles", 64),
            "doc_id",
            bands=16,
            rows_per_band=4,
            signature_len=64,
        )

    cand = (
        bands(corpus)
        .join(
            bands(batch).select(
                F.col("doc_id").alias("batch_id"), "band", "band_hash"
            ),
            ["band", "band_hash"],
        )
        .select("batch_id", F.col("doc_id").alias("corpus_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ids_a = cand.select(F.col("batch_id").alias("doc_id")).distinct()
    ids_b = cand.select(F.col("corpus_id").alias("doc_id")).distinct()
    sh_a = d.join(F.broadcast(ids_a), "doc_id").select(
        F.col("doc_id").alias("batch_id"),
        word_shingles(F.col("text"), 3).alias("sh_a"),
    )
    sh_b = d.join(F.broadcast(ids_b), "doc_id").select(
        F.col("doc_id").alias("corpus_id"),
        word_shingles(F.col("text"), 3).alias("sh_b"),
    )
    # |A∪B| = |A|+|B|-|A∩B| on distinct shingle sets — bit-equal
    # jaccard, one array walk per pair instead of two (round 12)
    _inter = F.size(F.array_intersect("sh_a", "sh_b"))
    raw = _inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - _inter
    ).cast("double")
    return (
        cand.join(F.broadcast(sh_a), "batch_id")
        .join(F.broadcast(sh_b), "corpus_id")
        .withColumn("_raw", raw)
        .filter(F.col("_raw") >= _INGEST_TAU)
        .select("batch_id", "corpus_id", F.round("_raw", 6).alias("jaccard"))
    )
