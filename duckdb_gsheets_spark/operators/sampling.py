"""Deterministic sampling operators for training-data pipelines.

Random sampling (``df.sample``) is seed- and partitioning-dependent —
useless for cross-engine verification and for reproducible corpus
builds. Both operators here key the sampling decision on ``md5`` of a
stable row key, which every engine computes identically:

* stratified hash-sampling — per-stratum keep-rates via a hex-prefix
  threshold (the standard "hash-mod" corpus subsampling pattern, e.g.
  down-weighting an over-represented language);
* bottom-k sampling — the k rows with the smallest hash values, a
  uniform-without-replacement sample that is also the KMV (k minimum
  values) distinct-count sketch's sample set.

Scale notes: both are a single narrow projection + filter (stratified)
or a top-k (bottom-k). Spark's ``orderBy(...).limit(k)`` compiles to
TakeOrderedAndProject — per-partition heaps of k rows merged on the
driver, no global sort, no full shuffle. At 100 TB you'd swap md5 for
xxhash64 (same shape, cheaper hash) when cross-engine parity isn't
needed.

Reference parity note: the reference engine (duckdb_gsheets) delegates
sampling to DuckDB's SAMPLE clause; these operators cover that surface
with reproducibility guarantees DuckDB's bernoulli sampler does not
give.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_gsheets_spark.functions import text as T
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import load_table

#: Per-language keep thresholds on the first two hex chars of
#: md5(doc_id): a doc survives iff its prefix sorts below the
#: threshold. '40'/256 ≈ 25% for over-represented English, '80'/256 =
#: 50% for the rest.
STRATA_THRESHOLDS: dict[str, str] = {
    "en": "40",
    "de": "80",
    "es": "80",
    "fr": "80",
    "zh": "80",
}
DEFAULT_THRESHOLD = "80"

#: Bottom-k sample size.
SAMPLE_K = 100


def _sample_key() -> F.Column:
    """md5 hex of the stringified doc_id — identical in Spark and
    DuckDB, uniform over [0, 16^32)."""
    return F.md5(F.col("doc_id").cast("string"))


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample of ``documents`` by language.

    Narrow plan: scan → md5 projection → threshold filter. No shuffle,
    no state; the same doc survives at every scale factor and on every
    cluster layout, which is what makes corpus builds reproducible.
    """
    docs = load_table(spark, sf_dir, "documents")
    threshold = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(t))
            for lang, t in STRATA_THRESHOLDS.items()
        ],
        F.lit(DEFAULT_THRESHOLD),
    )
    prefix = F.substring(_sample_key(), 1, 2)
    return (
        docs.where(prefix < threshold)
        .select("doc_id", "lang", "source", "n_chars", prefix.alias("bucket"))
    )


_THRESHOLD_CASES = "\n         ".join(
    f"WHEN '{lang}' THEN '{t}'" for lang, t in STRATA_THRESHOLDS.items()
)

SAMPLE_STRATIFIED_ORACLE = f"""
SELECT doc_id, lang, source, n_chars,
       SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
FROM documents
WHERE SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      (CASE lang {_THRESHOLD_CASES}
         ELSE '{DEFAULT_THRESHOLD}' END)
"""


#: Bootstrap: number of replicates and the md5-prefix keep threshold
#: ('80' of 16² hex prefixes ⇒ p = 0.5 per replicate).
BOOTSTRAP_R = 20
BOOTSTRAP_THRESHOLD = "80"


def bootstrap_replicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bootstrap: ``BOOTSTRAP_R`` hash-Bernoulli
    half-samples of the corpus, each reporting doc count, total and
    mean chars — the replicate table a CI or stability estimate is
    computed from ("does mean doc length move if we resample the
    crawl"). Hash-keyed (md5 of doc_id:replicate), NOT rand(): the
    same replicate membership on every run, cluster layout, and
    engine — which is what makes the statistic auditable.

    Shuffle ledger: the replicate index explodes NARROWLY per row
    (work is inherently R×, but no join and no extra scan), the
    filter drops half scan-side, and ONE map-side-combined rollup
    lands on ``BOOTSTRAP_R`` rows.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    rep = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(BOOTSTRAP_R - 1))).alias(
            "replicate"
        ),
    ).where(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("replicate").cast("string"),
                )
            ),
            1,
            2,
        )
        < F.lit(BOOTSTRAP_THRESHOLD)
    )
    return rep.groupBy("replicate").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(
            F.sum("n_chars").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_chars"),
    )


BOOTSTRAP_ORACLE = f"""
SELECT r.replicate,
       COUNT(*) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(d.n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_chars
FROM documents d
CROSS JOIN (
  SELECT CAST(unnest(range(0, {BOOTSTRAP_R})) AS INTEGER) AS replicate
) r
WHERE d.text IS NOT NULL
  AND SUBSTRING(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                    CAST(r.replicate AS VARCHAR)), 1, 2)
      < '{BOOTSTRAP_THRESHOLD}'
GROUP BY r.replicate
"""


def sample_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-sample: the ``SAMPLE_K`` documents with the smallest
    md5 keys (doc_id tiebreak, though md5 ties are practically
    impossible).

    ``orderBy(key).limit(k)`` → TakeOrderedAndProject: each partition
    keeps a k-row heap, the driver merges heaps — O(k) memory per
    task, no global sort. The retained key set doubles as a KMV
    sketch: distinct-count ≈ (k−1) / max(kept keys / 16^32).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang", _sample_key().alias("sample_key"))
        .orderBy("sample_key", "doc_id")
        .limit(SAMPLE_K)
    )


SAMPLE_BOTTOM_K_ORACLE = f"""
SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS sample_key
FROM documents
ORDER BY sample_key, doc_id
LIMIT {SAMPLE_K}
"""


#: Weighted-sample size and the weight floor that keeps 1/w finite.
WEIGHTED_K = 100
WEIGHT_FLOOR = 0.000001


def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sample without replacement via the
    Efraimidis–Spirakis A-ES key ``u^(1/w)`` (public, IPL 2006):
    the ``WEIGHTED_K`` largest keys form an exact weighted sample —
    the curation pattern that keeps MORE of the high-quality corpus
    without hard-thresholding it.

    Deterministic and engine-portable: u comes from the md5 hash grid
    ((int(md5[:8],16)+1) / 2³²), w is the 6-decimal quality score
    floored at ``WEIGHT_FLOOR``, and the key rounds to the 1e-9 grid
    so the ≤1-ulp ``pow`` drift between libm implementations cannot
    reorder ranks. Plan: narrow key projection →
    ``TakeOrderedAndProject`` (per-partition k-row heaps — no global
    sort), identical shape to :func:`sample_bottom_k`.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    w = F.greatest(
        T.quality_score(F.col("text")), F.lit(WEIGHT_FLOOR)
    )
    u = (
        F.conv(F.substring(_sample_key(), 1, 8), 16, 10).cast("long") + 1
    ).cast("double") / F.lit(4294967296.0)
    key = F.round(F.pow(u, F.lit(1.0) / w), 9)
    return (
        docs.select(
            "doc_id",
            "lang",
            T.quality_score(F.col("text")).alias("quality"),
            key.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(WEIGHTED_K)
    )


SAMPLE_WEIGHTED_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, lang,
         {{q}} AS quality,
         ROUND(POW(
           (CAST('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
             / 4294967296.0,
           1.0 / GREATEST({{q}}, {WEIGHT_FLOOR})), 9) AS sample_key
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, lang, quality, sample_key
FROM keyed
ORDER BY sample_key DESC, doc_id
LIMIT {WEIGHTED_K}
"""


def _weighted_oracle() -> str:
    return SAMPLE_WEIGHTED_ORACLE.replace("{q}", T.oracle_quality_score())


#: Train/val/test hash-split fractions in 256ths of the hex-prefix
#: space: [0, A0) train (62.5%), [A0, D0) val (18.75%), [D0, FF] test.
SPLIT_VAL_LO = "a0"
SPLIT_TEST_LO = "d0"


def split_col() -> F.Column:
    """The ONE split rule (Spark side): train/val/test from the first
    two hex chars of md5(doc_id). Every operator that mentions splits
    must use this helper — a threshold change edited in one place but
    not another would silently desynchronize split membership."""
    prefix = F.substring(_sample_key(), 1, 2)
    return (
        F.when(prefix < SPLIT_VAL_LO, "train")
        .when(prefix < SPLIT_TEST_LO, "val")
        .otherwise("test")
    )


def oracle_split_case() -> str:
    """The same split rule as DuckDB SQL text."""
    return (
        f"CASE WHEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 2)"
        f" < '{SPLIT_VAL_LO}' THEN 'train'"
        f" WHEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 2)"
        f" < '{SPLIT_TEST_LO}' THEN 'val'"
        f" ELSE 'test' END"
    )


def sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment + per-split
    audit: every document lands in exactly one split keyed on
    ``md5(doc_id)`` — stable under re-runs, engine changes, corpus
    growth (a doc never migrates between splits when new docs arrive,
    unlike any count-based split) — with per-(split, lang) doc and
    token counts to verify the split is stratification-neutral.

    The assignment itself is a narrow projection (zero shuffle at any
    scale; the rollup is the only exchange and lands on
    |splits|·|langs| keys). This is the split recipe every training
    pipeline needs pinned BEFORE dedup/curation so leakage checks
    (e.g. near-dups straddling train/test) have a stable target.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = T.token_count(F.col("text"))
    return (
        docs.where(F.col("text").isNotNull())
        .select("lang", split_col().alias("split"), toks.alias("n_tokens"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


SPLIT_ASSIGN_ORACLE = f"""
SELECT
  {oracle_split_case()} AS split,
  lang,
  COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_split_to_array(TRIM(text), '\\s+'))) AS BIGINT)
    AS n_tokens
FROM documents
WHERE text IS NOT NULL
GROUP BY 1, 2
"""


def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: near-dup pairs (the verified
    MinHash set) that STRADDLE two different hash splits — each one a
    potential train→test leak. Reports per (split_a, split_b) pair
    count and the worst (highest-Jaccard) offending pair.

    Composition cost on top of the dedup pair set: one narrow split
    assignment per side (projection, no shuffle) and a ≤9-row rollup.
    This is the audit that justifies running dedup BEFORE splitting —
    at 100 TB the pair set is already materialized by the dedup pass,
    so the check is nearly free.
    """
    from duckdb_gsheets_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", split_col().alias("split")
    )
    tagged = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a")
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b")
            ),
            "doc_b",
        )
        .where(F.col("sp_a") != F.col("sp_b"))
        .select(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
            "jaccard",
        )
    )
    return tagged.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_leaky_pairs"),
        F.max("jaccard").alias("worst_jaccard"),
    )


def _split_leakage_oracle() -> str:
    from duckdb_gsheets_spark.operators.dedup import (
        MINHASH_JACCARD_THRESHOLD,
        _minhash_core_sql,
    )

    return f"""
WITH {_minhash_core_sql()},
lk_splits AS (
  SELECT doc_id, {oracle_split_case()} AS split
  FROM documents
), lk_tagged AS (
  SELECT LEAST(sa.split, sb.split) AS split_a,
         GREATEST(sa.split, sb.split) AS split_b,
         p.jaccard
  FROM mh_pairs p
  JOIN lk_splits sa ON sa.doc_id = p.doc_a
  JOIN lk_splits sb ON sb.doc_id = p.doc_b
  WHERE p.jaccard >= {MINHASH_JACCARD_THRESHOLD}
    AND sa.split <> sb.split
)
SELECT split_a, split_b,
       COUNT(*) AS n_leaky_pairs,
       MAX(jaccard) AS worst_jaccard
FROM lk_tagged
GROUP BY 1, 2
"""


def split_contamination_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASSAGE-level cross-split contamination audit via winnowing
    fingerprints: for each eval split (val/test), how many of its
    selected fingerprints also occur in ANY train document — the
    substring-overlap check n-gram-exact contamination
    (chunking.contamination_ngram) misses and near-dup leakage
    (split_leakage_check) only sees at whole-document granularity.
    Winnowing's guarantee makes the audit sound: any shared run of
    ≥ k+w−1 tokens between an eval doc and a train doc shares a
    selected fingerprint, so a zero-hit split provably has no long
    verbatim overlap with train.

    Shapes: the fingerprint stream comes from the shared winnowing
    core (text.winnow_selected — one doc_id partition, linear); split
    assignment is a NARROW column derivation from doc_id (no join);
    the only added shuffles are the fingerprint distinct and one
    equi-join on the fingerprint value against the train-side
    distinct — both linear in selected fingerprints (~2/(w+1) of
    grams), never quadratic in documents. Documents shorter than one
    winnowing window carry no fingerprints and are out of audit scope
    by construction.
    """
    from duckdb_gsheets_spark.operators.text import winnow_selected

    docs = load_table(spark, sf_dir, "documents")
    fps = (
        winnow_selected(docs)
        .select("doc_id", F.col("win_min").alias("fp"))
        .distinct()
        .withColumn("split", split_col())
    )
    train_fps = (
        fps.where(F.col("split") == "train").select("fp").distinct()
    )
    ev = fps.where(F.col("split") != "train").join(
        train_fps.withColumn("hit", F.lit(1)), "fp", "left"
    )
    return ev.groupBy("split").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_fps"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_contaminated_fps"),
        F.round(
            F.sum(F.coalesce("hit", F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("contamination_rate"),
        F.countDistinct(
            F.when(F.col("hit").isNotNull(), F.col("doc_id"))
        ).alias("n_docs_flagged"),
    )


def _split_contamination_oracle() -> str:
    from duckdb_gsheets_spark.operators.text import winnow_core_sql

    return f"""
WITH {winnow_core_sql()},
sc_fps AS (
  SELECT doc_id, unnest(fp) AS fp FROM wn_selected
), sc_tagged AS (
  SELECT doc_id, fp, {oracle_split_case()} AS split FROM sc_fps
), sc_train AS (
  SELECT DISTINCT fp FROM sc_tagged WHERE split = 'train'
), sc_ev AS (
  SELECT t.split, t.doc_id, t.fp,
         CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM sc_tagged t LEFT JOIN sc_train tr USING (fp)
  WHERE t.split <> 'train'
)
SELECT split,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       COUNT(*) AS n_fps,
       CAST(SUM(hit) AS BIGINT) AS n_contaminated_fps,
       ROUND(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS contamination_rate,
       CAST(COUNT(DISTINCT CASE WHEN hit = 1 THEN doc_id END) AS BIGINT)
         AS n_docs_flagged
FROM sc_ev
GROUP BY split
"""


#: Deterministic negatives per anchor document, and the hash salt
#: separating this sampler's stream from the other hash consumers.
K_NEGATIVES = 3


def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor document, draw ``K_NEGATIVES`` uniform candidate
    negatives from the id space via the portable hash, then REJECT any
    candidate that is the anchor itself or sits in the anchor's
    near-dup cluster — a "random negative" that is secretly a
    near-duplicate of the anchor is a false negative that corrupts the
    contrastive objective (the standard in-batch-negatives failure).

    Construction: candidate ``j`` of anchor ``d`` is
    ``tok_hash60(d || ':' || j) mod (max_id + 1)`` (1-row max-id
    broadcast), inner-joined to the corpus (ids outside the corpus
    drop out), labeled through the SAME transitive MinHash clusters as
    ``dedup_clusters``, and filtered on label inequality. Output is
    ≤ K per anchor by construction — collisions and cluster hits are
    rejected, not resampled, so the operator is a pure composition of
    deterministic maps and equi-joins (the audit column of how many
    negatives survived is one rollup away).

    Scale: the candidate build is narrow (|docs|·K rows of (id, id)
    pairs); both joins key on doc_id. Cluster labels come from the
    checkpointed CC build — the expensive part is shared with the
    dedup family, not duplicated per anchor.
    """
    from duckdb_gsheets_spark.functions.portable_hash import tok_hash60
    from duckdb_gsheets_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    cands = (
        docs.crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.lit(K_NEGATIVES))
            ).alias("j"),
            "m",
        )
        .select(
            "doc_id",
            F.col("j").cast("int").alias("j"),
            (
                tok_hash60(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                )
                % F.col("m")
            ).alias("neg_id"),
        )
    )
    labels = (
        dedup_clusters(spark, sf_dir)
        .select("doc_id", "cluster_id")
        .localCheckpoint(eager=True)
    )
    la = labels.withColumnRenamed("cluster_id", "label_a")
    lb = labels.select(
        F.col("doc_id").alias("neg_id"),
        F.col("cluster_id").alias("label_b"),
    )
    return (
        cands.join(docs.select(F.col("doc_id").alias("neg_id")), "neg_id")
        .join(la, "doc_id")
        .join(lb, "neg_id")
        .where(
            (F.col("neg_id") != F.col("doc_id"))
            & (F.col("label_a") != F.col("label_b"))
        )
        .select("doc_id", "j", "neg_id")
    )


def _contrastive_negatives_oracle() -> str:
    from duckdb_gsheets_spark.functions import portable_hash as PH
    from duckdb_gsheets_spark.operators.dedup import (
        _CC_LABELS_SQL,
        _minhash_core_sql,
    )

    hash_expr = PH.oracle_tok_hash60(
        "CAST(c.doc_id AS VARCHAR) || ':' || CAST(c.j AS VARCHAR)"
    )
    return f"""
WITH RECURSIVE {_minhash_core_sql()},
{_CC_LABELS_SQL},
cn_mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
cn_cands AS (
  SELECT c.doc_id, CAST(c.j AS INTEGER) AS j,
         CAST({hash_expr} % mx.m AS BIGINT) AS neg_id
  FROM (SELECT doc_id, unnest(range(1, {K_NEGATIVES} + 1)) AS j
        FROM documents) c
  CROSS JOIN cn_mx mx
)
SELECT c.doc_id, c.j, c.neg_id
FROM cn_cands c
JOIN documents n ON n.doc_id = c.neg_id
JOIN cc_labels la ON la.doc_id = c.doc_id
JOIN cc_labels lb ON lb.doc_id = c.neg_id
WHERE c.neg_id <> c.doc_id AND la.comp <> lb.comp
"""


def split_leakage_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split SEMANTIC leakage audit: embedding-cosine near-dup
    pairs (the LSH-blocked verified set, threshold 0.95) that straddle
    two different hash splits. The third leg of the leakage tripod:
    :func:`split_leakage_check` sees lexical near-dups (MinHash),
    :func:`split_contamination_winnowing` sees verbatim passages, and
    this sees PARAPHRASE-level train→test leaks neither lexical signal
    can — the check eval-suite hygiene actually requires (an eval doc
    rewritten from a train doc shares no shingles but sits at
    cosine ≥ 0.95).

    Composition cost on top of the near-dup pair set (already
    materialized by a 100 TB semantic-dedup pass): one id-equi-join
    per side against the narrow (doc_id, split) projection — the
    split is a row expression, so each join moves only (id, split)
    pairs — and a ≤3-row rollup. Orphan vectors (no backing document)
    carry no split and drop at the join, matching
    ``embedding_doc_coverage``'s referential contract.

    Oracle: the exact all-pairs cosine replay (the same CTE the
    registered near-dup oracle uses — the LSH blocking must lose
    nothing at this threshold) joined to the shared split CASE.
    """
    from duckdb_gsheets_spark.operators.similarity import (
        neardup_pairs_blocked,
    )

    pairs = neardup_pairs_blocked(load_table(spark, sf_dir, "embeddings"))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", split_col().alias("split")
    )
    return split_leakage_semantic_frame(pairs, docs)


def split_leakage_semantic_frame(
    pairs: DataFrame, docs: DataFrame
) -> DataFrame:
    """Rollup core over any (vec_a, vec_b, cos_sim) pair frame and
    (doc_id, split) assignment — shared by the registered corpus query
    and the planted-pair pytest (the fixture corpus has no pair at the
    0.95 bar — max pairwise cosine ≈ 0.51 — so a synthetic frame with
    cross-split planted near-dups keeps the assertions non-vacuous,
    the same pattern as ``ml.semantic_neardup_pairs_frame``)."""
    tagged = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("vec_a"), F.col("split").alias("sp_a")
            ),
            "vec_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("vec_b"), F.col("split").alias("sp_b")
            ),
            "vec_b",
        )
        .where(F.col("sp_a") != F.col("sp_b"))
        .select(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
            "cos_sim",
        )
    )
    return tagged.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_leaky_pairs"),
        F.max("cos_sim").alias("worst_cos"),
    )


def _split_leakage_semantic_oracle() -> str:
    from duckdb_gsheets_spark.operators.similarity import (
        _ORACLE_VECTOR_CTE,
        NEARDUP_COSINE_THRESHOLD,
    )

    return f"""
{_ORACLE_VECTOR_CTE},
sls_dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.x * b.x) AS dp
  FROM v a JOIN v b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
), sls_pairs AS (
  SELECT vec_a, vec_b, ROUND(dp / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM sls_dots
  JOIN norms na ON na.vec_id = vec_a
  JOIN norms nb ON nb.vec_id = vec_b
  WHERE ROUND(dp / (na.nrm * nb.nrm), 6) >= {NEARDUP_COSINE_THRESHOLD}
), sls_splits AS (
  SELECT doc_id, {oracle_split_case()} AS split FROM documents
), sls_tagged AS (
  SELECT LEAST(sa.split, sb.split) AS split_a,
         GREATEST(sa.split, sb.split) AS split_b,
         p.cos_sim
  FROM sls_pairs p
  JOIN sls_splits sa ON sa.doc_id = p.vec_a
  JOIN sls_splits sb ON sb.doc_id = p.vec_b
  WHERE sa.split <> sb.split
)
SELECT split_a, split_b,
       COUNT(*) AS n_leaky_pairs,
       MAX(cos_sim) AS worst_cos
FROM sls_tagged
GROUP BY 1, 2
"""


#: Seeded-shuffle manifest parameters: shard count, the epoch seed the
#: permutation is keyed on, and the modulus of the per-shard set
#: digest (2^31 keeps SUM(ki % M) inside a signed long for corpora up
#: to ~4e9 docs per shard; shard twice before that).
N_SHUFFLE_SHARDS = 16
SHUFFLE_SEED = "epoch0"
_SHUFFLE_DIGEST_MOD = 1 << 31


def corpus_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SEEDED corpus shuffle for training order — the
    manifest of the permutation every training run needs and
    ``df.sample``/``ORDER BY rand()`` cannot give reproducibly: each
    document's shuffle key is ``md5(seed # doc_id)``, its shard is a
    bucket of the key space, and within a shard the training order IS
    the key order (recomputable anywhere from (seed, doc_id) — the
    manifest doesn't need to ship it). Changing the seed string
    reshuffles every epoch; the same seed replays byte-identically on
    any engine.

    Emitted per shard: doc/token inventory (what the data loader
    budgets), the first/last shuffle keys (the shard's key-range
    envelope), and a modular set digest — ``SUM(ki % M) % M`` over
    the 60-bit key ints — that any consumer can recompute to verify
    it holds exactly the documents the manifest promised.

    Plan: ONE narrow scan projection (md5 + conv + token count, all
    JVM), one |shards|-keyed partial-combining aggregate. Nothing
    corpus-sized shuffles: min/max/sum/count all fold map-side; no
    global rank is ever materialized because the shard assignment is
    key-space bucketing, not row numbering.
    """
    from duckdb_gsheets_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    key = F.md5(
        F.concat(
            F.lit(f"{SHUFFLE_SEED}#"), F.col("doc_id").cast("string")
        )
    )
    kint = F.conv(F.substring(key, 1, 15), 16, 10).cast("long")
    per = docs.select(
        (kint % N_SHUFFLE_SHARDS).cast("int").alias("shard_id"),
        key.alias("k"),
        kint.alias("ki"),
        token_count(F.col("text")).cast("long").alias("nt"),
    )
    return (
        per.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.min("k").alias("first_key"),
            F.max("k").alias("last_key"),
            (
                F.sum(F.col("ki") % _SHUFFLE_DIGEST_MOD)
                % _SHUFFLE_DIGEST_MOD
            ).alias("docset_digest"),
        )
        .orderBy("shard_id")
    )


CORPUS_SHUFFLE_ORACLE = f"""
WITH shf AS (
  SELECT md5('{SHUFFLE_SEED}#' || CAST(doc_id AS VARCHAR)) AS k,
         CAST('0x' || SUBSTRING(
           md5('{SHUFFLE_SEED}#' || CAST(doc_id AS VARCHAR)), 1, 15)
           AS BIGINT) AS ki,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS nt
  FROM documents WHERE text IS NOT NULL
)
SELECT CAST(ki % {N_SHUFFLE_SHARDS} AS INTEGER) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       MIN(k) AS first_key,
       MAX(k) AS last_key,
       CAST(SUM(ki % {_SHUFFLE_DIGEST_MOD}) % {_SHUFFLE_DIGEST_MOD}
            AS BIGINT) AS docset_digest
FROM shf
GROUP BY 1
ORDER BY 1
"""


QUERIES: list[QueryDef] = [
    QueryDef("sample_stratified", sample_stratified, SAMPLE_STRATIFIED_ORACLE, "per-language hash sampling"),
    QueryDef("bootstrap_replicates", bootstrap_replicates, BOOTSTRAP_ORACLE, "deterministic hash-Bernoulli bootstrap replicates (CI input)"),
    QueryDef("sample_bottom_k", sample_bottom_k, SAMPLE_BOTTOM_K_ORACLE, "bottom-k / KMV uniform sample"),
    QueryDef("sample_weighted_topk", sample_weighted_topk, _weighted_oracle(), "Efraimidis-Spirakis quality-weighted sample"),
    QueryDef("sample_split_assign", sample_split_assign, SPLIT_ASSIGN_ORACLE, "deterministic train/val/test hash split with per-split audit"),
    QueryDef("split_leakage_check", split_leakage_check, _split_leakage_oracle(), "near-dup pairs straddling hash splits (train/test leakage audit)"),
    QueryDef("split_contamination_winnowing", split_contamination_winnowing, _split_contamination_oracle(), "passage-level eval-vs-train contamination via winnowing fingerprints"),
    QueryDef("contrastive_negatives", contrastive_negatives, _contrastive_negatives_oracle(), "deterministic negative sampling with near-dup-cluster rejection (contrastive-training prep)"),
    # -- round-7 additions --
    QueryDef("split_leakage_semantic", split_leakage_semantic, _split_leakage_semantic_oracle(), "embedding-cosine near-dup pairs straddling hash splits (paraphrase-level train/test leakage audit)"),
    # -- round-11 additions --
    QueryDef("corpus_shuffle_manifest", corpus_shuffle_manifest, CORPUS_SHUFFLE_ORACLE, "seeded deterministic training-shuffle shard manifest with verifiable set digests"),
]
