"""Deduplication operators over the `documents` table.

LLM-data-pipeline dedup family:
- exact dedup (hash-groupBy)                      → `exact_dedup`
- n-gram Jaccard near-dup (shingle self-join)     → `ngram_jaccard_pairs`
- MinHash + LSH near-dup (band bucket join)       → `minhash_lsh_pairs`
- clusters: connected components of the LSH pairs → `dedup_clusters`,
  `dedup_clusters_largestar` — ONE loop, `label_propagation_components`
  (min-label hooking; the second name adds a pointer-jumping step per
  round for chain-shaped components); survivors and splits downstream
  (`dedup_retention_report`, `cluster_aware_split`)

Reference parity: the reference dedups by product_id via a SQLite
tracking set (SURVEY U1, tracker.py:61-88; zara_extractor.py:191) —
here generalized to content-based dedup for training-data curation.

Cross-engine determinism: all hashing is md5-hex (identical in Spark
and DuckDB); MinHash minima are taken over md5 *strings* (min over a
lexicographic order is a valid random-permutation min-hash), so the
oracle reproduces signatures byte-for-byte. Jaccard values are
int/int → double division: deterministic IEEE.

Scale notes: shingle self-join is quadratic in bucket size — the LSH
variant is the 100 TB path (band buckets bound join fan-out; skewed
mega-buckets would be salted/capped). Word 3-gram shingles keep the
shingle vocabulary sparse so exact-match buckets stay small. The
components loop needs O(diameter) rounds plain and about
O(log diameter) with jumping, bounded by `CC_MAX_ROUNDS` either way;
at 100 TB it would checkpoint reliably instead of locally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import parallel_docs, row_count, table
from .base import query

N_HASHES = 12
BAND_SIZE = 3
N_BANDS = N_HASHES // BAND_SIZE
# band buckets with more members than this get salted pair generation
# (spread over 8 tasks) instead of a single-reducer B×B join — see
# functions/skew.py:skew_safe_join. Well above anything the test SFs
# produce (bucket sizes there are <100), so small-scale plans and the
# oracle gate are byte-identical with or without the guard.
LSH_HOT_BUCKET = 5000

_SHINGLE_SQL = """
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   range(1, GREATEST(len(string_split(lower(text), ' ')) - 1, 1)),
                   i -> string_split(lower(text), ' ')[i] || ' ' ||
                        string_split(lower(text), ' ')[i+1] || ' ' ||
                        string_split(lower(text), ' ')[i+2])) AS shingle
        FROM documents
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram shingles per document (lowercased), cached —
    Spark's cache is keyed on the logical plan, so the Jaccard and
    MinHash queries share one materialization per session."""
    d = parallel_docs(spark, sf_dir)
    # stage the split: element_at(toks, ...) inside the lambda would
    # re-evaluate it per element (the 447x staged-projection lesson)
    base = d.selectExpr("doc_id", "split(lower(text), ' ') AS toks")
    # shingle i (0-based) = toks[i] toks[i+1] toks[i+2], i in [0, n-3]
    grams = (
        "CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3), x -> concat_ws("
        "' ', element_at(toks, x + 1), element_at(toks, x + 2), element_at(toks, x + 3)))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    # per-row array_distinct == global DISTINCT here (the key includes
    # doc_id), but costs zero shuffle instead of a 4.7M-row exchange
    return base.selectExpr("doc_id", f"explode(array_distinct({grams})) AS shingle").cache()


@query(
    "exact_dedup",
    oracle="""
    SELECT md5(lower(text)) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(lower(text))
    """,
    survey_ops="U1,dedup",
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy keeping the minimum id."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.lower(F.col("text"))).alias("fp")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
    )


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
    FROM pairs
    JOIN sizes na ON doc_a = na.doc_id
    JOIN sizes nb ON doc_b = nb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.2
    """,
    survey_ops="dedup",
    bench=True,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-3-gram Jaccard ≥ 0.2.

    The self-join runs on xxhash64(shingle) longs instead of shingle
    strings — >10× faster (fixed-width join keys, smaller shuffle), and
    with ~3e4 distinct shingles the 64-bit collision probability
    (~n²/2^65) is ~1e-11, far below any other error source. Output
    columns are unchanged.
    """
    sh = _shingles(spark, sf_dir).selectExpr("doc_id", "xxhash64(shingle) AS h")
    sizes = sh.groupBy("doc_id").agg(F.expr("count(*) AS n"))
    a = sh.selectExpr("doc_id AS doc_a", "h")
    b = sh.selectExpr("doc_id AS doc_b", "h")
    pairs = (
        a.join(b, "h")
        .filter("doc_a < doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("count(*) AS n_common"))
    )
    na = sizes.selectExpr("doc_id AS doc_a", "n AS n_a")
    nb = sizes.selectExpr("doc_id AS doc_b", "n AS n_b")
    jaccard = "CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)"
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .selectExpr("doc_a", "doc_b", "n_common", f"{jaccard} AS jaccard")
        .filter("jaccard >= 0.2D")
    )


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → array of N_HASHES md5-string minima (the MinHash signature).

    One groupBy with N_HASHES independent min-aggregates: a single
    shuffle of (doc_id, 12 partial minima) — no ×12 salt explode, no
    second exchange. Map-side partial aggregation reduces each partition
    to one row per doc before the exchange.
    """
    mins = ", ".join(f"min(md5(concat('{i}:', shingle)))" for i in range(N_HASHES))
    return _shingles(spark, sf_dir).groupBy("doc_id").agg(F.expr(f"array({mins}) AS sig"))


_SIG_SQL = f"""
        SELECT doc_id, list(mh ORDER BY salt) AS sig
        FROM (
            SELECT doc_id, salt, MIN(md5(CAST(salt AS VARCHAR) || ':' || shingle)) AS mh
            FROM ({_SHINGLE_SQL}) sh, unnest(range(0, {N_HASHES})) AS s(salt)
            GROUP BY doc_id, salt
        )
        GROUP BY doc_id
"""


# Shared CTE block: sigs → bands → candidate pairs → reported pairs.
# Used by both the pair query's oracle and the cluster query's
# recursive-CTE oracle, so the two stay byte-equivalent.
_PAIR_CTES = f"""sigs AS ({_SIG_SQL}),
    bands AS (
        SELECT doc_id, band,
               array_to_string(sig[band * {BAND_SIZE} + 1 : band * {BAND_SIZE} + {BAND_SIZE}], '|') AS band_sig
        FROM sigs, unnest(range(0, {N_BANDS})) AS b(band)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b,
               CAST(len(list_filter(range(1, {N_HASHES} + 1), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
                   / {N_HASHES} AS est_jaccard
        FROM cand
        JOIN sigs sa ON cand.doc_a = sa.doc_id
        JOIN sigs sb ON cand.doc_b = sb.doc_id
        WHERE len(list_filter(range(1, {N_HASHES} + 1), i -> sa.sig[i] = sb.sig[i])) >= {BAND_SIZE}
    )"""


# The transitive closure every connected-components oracle walks: each
# node reaches every label of its component, so MIN(lbl) per node is
# the component minimum whatever loop the Spark side runs.
_WALK_CTES = f"""{_PAIR_CTES},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.node = e.src
    )"""

_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_WALK_CTES}
    SELECT node AS doc_id, MIN(lbl) AS cluster_id,
           (node = MIN(lbl)) AS is_canonical
    FROM walk GROUP BY node
    """


@query(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH {_PAIR_CTES}
    SELECT doc_a, doc_b, est_jaccard FROM pairs
    """,
    survey_ops="dedup",
    bench=True,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12) + LSH(4 bands × 3) candidate pairs with estimated Jaccard.

    Candidates = pairs agreeing on at least one full band; reported when
    ≥ BAND_SIZE of the 12 min-hashes agree (est_jaccard ≥ 0.25).

    The band-bucket self-join runs through `skew_safe_join`: a
    degenerate band signature shared by B documents (boilerplate, empty
    docs) makes a B×B bucket that no amount of partitioning fixes —
    the blowup is join OUTPUT, invisible to AQE's input-bytes skew
    detection. Past LSH_HOT_BUCKET members the bucket's pair
    generation spreads across tasks (broadcast hot subset × explicitly
    repartitioned probe side — measured 6.1× on a 60k-member bucket,
    SCALE.md) instead of stalling one reducer. The guard PROBES first
    (one bounded counting job, AQE-style), and the probe itself is
    ROW-COUNT GATED (r5, VERDICT r4 item 4): its fixed job cost was
    67% of this query's runtime at bench sf0.1, so `guard_if_large`
    engages the guard only when the band table (docs × N_BANDS, from
    the registry's footer row count — no Spark job) is big enough to
    amortize it; below that the plan is the plain equi-join,
    byte-identical to pre-guard rounds. Semantics-identical on every
    path (the oracle is unchanged); tests/test_skew.py pins
    row-identity across all guard paths and the spread on a synthetic
    mega-bucket.
    """
    from ..functions.skew import guard_if_large

    n_docs = row_count(spark, sf_dir, "documents")
    sigs = _minhash_sigs(spark, sf_dir).cache()
    band_idx = ", ".join(str(i) for i in range(N_BANDS))
    band_sig = f"concat_ws('|', slice(sig, band * {BAND_SIZE} + 1, {BAND_SIZE}))"
    bands = sigs.selectExpr("doc_id", f"explode(array({band_idx})) AS band", "sig").selectExpr(
        "doc_id", "band", f"xxhash64(band, {band_sig}) AS band_h"
    )
    a = bands.selectExpr("doc_id AS doc_a", "band", "band_h")
    b = bands.selectExpr("doc_id AS doc_b", "band", "band_h")
    cand = (
        guard_if_large(
            a,
            b,
            ["band", "band_h"],
            driving_rows=n_docs * N_BANDS,
            hot_threshold=LSH_HOT_BUCKET,
        )
        .filter("doc_a < doc_b")
        .selectExpr("doc_a", "doc_b")
        .distinct()
    )
    sa = sigs.selectExpr("doc_id AS doc_a", "sig AS sig_a")
    sb = sigs.selectExpr("doc_id AS doc_b", "sig AS sig_b")
    n_match = (
        f"size(filter(sequence(1, {N_HASHES}), x -> element_at(sig_a, x) = element_at(sig_b, x)))"
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(f"{n_match} >= {BAND_SIZE}")
        .selectExpr("doc_a", "doc_b", f"CAST({n_match} AS DOUBLE) / {N_HASHES} AS est_jaccard")
    )


@query(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    survey_ops="dedup,iterative",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the MinHash-LSH pair
    graph, each doc labeled with its component's minimum doc_id and a
    canonical flag (the keep-one-per-cluster decision that completes the
    dedup pipeline: pairs → clusters → canonical survivors).

    Plain min-label propagation (`label_propagation_components`,
    `jump=False`): LSH cliques keep component diameters tiny, so the
    pointer-jumping join would add a shuffle per round and save none.
    The labels are independent of iteration order, which is why the
    DuckDB recursive-CTE oracle (min doc_id over the transitive
    closure) reproduces them exactly.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return label_propagation_components(docs, pairs)


CC_MAX_ROUNDS = 50  # round cap of the connected-components loop


class ComponentsDidNotConverge(RuntimeError):
    """The connected-components loop reached its round cap."""


def label_propagation_components(
    docs: DataFrame, pairs: DataFrame, jump: bool = False
) -> DataFrame:
    """Connected components by min-label propagation: `docs` = (doc_id),
    unique; `pairs` = (doc_a, doc_b) undirected; returns (doc_id,
    cluster_id, is_canonical), cluster_id the component's minimum
    doc_id.

    Each round HOOKS every node to the minimum label over itself and
    its neighbours. With `jump=True` it then JUMPS: each label L(v)
    becomes L(L(v)), a self-join of the hooked labels on cluster_id =
    doc_id (the shortcutting step of Stergiou et al., WSDM 2018). A
    label never increases and always names a node of the same
    component, so the fixpoint is the component minimum either way;
    hooking alone needs (component diameter + 1) rounds, hooking plus
    jumping about log2 of it (a 1,000-node chain: 10).

    One driver action per round: the round's eager localCheckpoint
    (its shuffle stages run as jobs of their own under adaptive
    execution), which keeps
    only (doc_id, cluster_id) and reports the number of lowered labels
    as an `observe()` metric, so the convergence check costs no extra
    pass. Past `CC_MAX_ROUNDS` it raises `ComponentsDidNotConverge`.
    """
    from pyspark.sql import Observation

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id")).localCheckpoint()
    for _ in range(CC_MAX_ROUNDS):
        nbr_min = (
            edges.join(
                labels.select(F.col("doc_id").alias("src"), F.col("cluster_id").alias("src_lbl")),
                "src",
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("src_lbl").alias("nbr_min"))
        )
        hooked = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.col("cluster_id").alias("_old"),
            F.least(F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))).alias(
                "cluster_id"
            ),
        )
        if jump:
            hop = hooked.select(
                F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("_jump")
            )
            hooked = hooked.join(hop, "cluster_id").select(
                "doc_id", "_old", F.col("_jump").alias("cluster_id")
            )
        obs = Observation()
        lowered = F.sum((F.col("cluster_id") < F.col("_old")).cast("long"))
        labels = (
            hooked.observe(obs, lowered.alias("n_changed"))
            .select("doc_id", "cluster_id")
            .localCheckpoint()
        )
        # labels never increase, so "lowered" is "changed"; an empty
        # docs frame sums to NULL
        if not obs.get["n_changed"]:
            return labels.withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    raise ComponentsDidNotConverge(
        f"label propagation did not converge in {CC_MAX_ROUNDS} rounds"
    )


@query(
    "dedup_clusters_largestar",
    oracle=_CLUSTERS_ORACLE,
    survey_ops="dedup,iterative,scale",
)
def dedup_clusters_largestar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_clusters` through the chain-safe loop: the same components
    by min-label propagation with a pointer-jumping step every round
    (`label_propagation_components(…, jump=True)`), O(log diameter)
    rounds instead of O(diameter) — the path for inputs whose
    components can be long chains, which plain propagation could not
    finish within `CC_MAX_ROUNDS`. The registered name is kept from the
    large-star/small-star loop (Kiveris et al.) it once ran; hooking
    plus jumping beat that loop on job count and time on every input
    measured (ROADMAP, direction 3). Same oracle as `dedup_clusters`.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return label_propagation_components(docs, pairs, jump=True)


# ---------------------------------------------------------------------------
# SimHash (32-bit) — the third near-dup family member
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
_HAMMING_MAX = 6  # pairs reported at distance ≤ 6 of 32 bits

_FP_SQL = f"""
        SELECT doc_id,
               string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS fp
        FROM (
            SELECT doc_id, j,
                   SUM(2 * (((strpos('0123456789abcdef', h[(j // 4) + 1]) - 1)
                             >> (3 - (j % 4))) & 1) - 1) AS vote
            FROM (SELECT doc_id, substr(md5(shingle), 1, 8) AS h FROM ({_SHINGLE_SQL}) sh),
                 unnest(range(0, {SIMHASH_BITS})) AS t(j)
            GROUP BY doc_id, j
        )
        GROUP BY doc_id
"""


def _simhash_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → 32-char bit-string SimHash fingerprint.

    Bits come from md5 hex nibbles (identical in both engines); votes
    are integer sums → exact; ties (vote == 0) resolve to '0'.
    """
    sh = _shingles(spark, sf_dir)
    h = sh.select("doc_id", F.substring(F.md5("shingle"), 1, 8).alias("h"))

    def bit(j: int):
        # bit j of the 32-bit hash: nibble j//4 (static substr), bit 3-j%4
        nib = F.conv(F.substring("h", j // 4 + 1, 1), 16, 10).cast("int")
        return F.shiftright(nib, 3 - j % 4).bitwiseAND(F.lit(1))

    # 32 static vote aggregates → one shuffle of (doc_id, 32 ints), no
    # per-bit explode; votes are exact integer sums.
    votes = [F.sum(2 * bit(j) - 1).alias(f"v{j}") for j in range(SIMHASH_BITS)]
    per_doc = h.groupBy("doc_id").agg(*votes)
    fp = F.concat(
        *[F.when(F.col(f"v{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(SIMHASH_BITS)]
    )
    return per_doc.select("doc_id", fp.alias("fp"))


@query(
    "simhash_fingerprints",
    oracle=f"""
    WITH fps AS ({_FP_SQL})
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM fps GROUP BY fp
    """,
    survey_ops="dedup",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint histogram over documents."""
    fps = _simhash_fps(spark, sf_dir)
    return fps.groupBy("fp").agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))


@query(
    "simhash_near_pairs",
    oracle=f"""
    WITH fps AS ({_FP_SQL}),
    bands AS (
        SELECT doc_id, fp, b, fp[b * 8 + 1 : b * 8 + 8] AS band_sig
        FROM fps, unnest(range(0, 4)) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           len(list_filter(range(1, {SIMHASH_BITS} + 1), i -> fa.fp[i] <> fb.fp[i])) AS hamming
    FROM cand
    JOIN fps fa ON cand.doc_a = fa.doc_id
    JOIN fps fb ON cand.doc_b = fb.doc_id
    WHERE len(list_filter(range(1, {SIMHASH_BITS} + 1), i -> fa.fp[i] <> fb.fp[i])) <= {_HAMMING_MAX}
    """,
    survey_ops="dedup",
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 8-bit band blocking, hamming ≤ 6 of 32."""
    fps = _simhash_fps(spark, sf_dir).cache()
    band_idx = F.array(*[F.lit(i) for i in range(4)])
    bands = fps.select(
        "doc_id", "fp", F.explode(band_idx).alias("b")
    ).withColumn("band_sig", F.expr("substring(fp, b * 8 + 1, 8)"))
    a = bands.select(F.col("doc_id").alias("doc_a"), "b", "band_sig")
    b = bands.select(F.col("doc_id").alias("doc_b"), "b", "band_sig")
    cand = (
        a.join(b, ["b", "band_sig"]).filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b").distinct()
    )
    fa = fps.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"))
    fb = fps.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"))
    hamming = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
            lambda i: F.substring(F.col("fp_a"), 1, SIMHASH_BITS).substr(i, F.lit(1))
            != F.substring(F.col("fp_b"), 1, SIMHASH_BITS).substr(i, F.lit(1)),
        )
    )
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


@query(
    "dedup_retention_report",
    oracle=f"""
    WITH RECURSIVE {_WALK_CTES},
    labels AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node)
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN l.doc_id = l.cluster_id THEN d.n_chars ELSE 0 END)
                AS BIGINT) AS chars_kept,
           CAST(SUM(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS keep_ratio
    FROM labels l JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
    survey_ops="dedup,report",
)
def dedup_retention_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's end artifact: per-source retention after
    keeping one canonical document per near-dup cluster — docs kept,
    chars kept/dropped, keep ratio. This is the report a training-data
    run publishes after MinHash-LSH → clusters → canonical selection.

    One extra broadcast-sized aggregation over the cluster labels; all
    heavy lifting (signatures, band join, label propagation) is shared
    with `dedup_clusters` via the same cached plans.
    """
    labels = dedup_clusters(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    joined = labels.join(docs, "doc_id")
    kept = F.col("is_canonical").cast("int")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        F.sum(F.when(F.col("is_canonical"), F.col("n_chars")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("chars_kept"),
        (F.sum(kept).cast("double") / F.count("*")).alias("keep_ratio"),
    )


# Cluster-aware train/val/test split: an entire near-dup cluster lands
# in ONE split (assignment keyed on md5(cluster_id)), because splitting
# by document leaks near-duplicate content across the train/eval
# boundary. The query also quantifies that leak: how many clusters the
# naive md5(doc_id) split would have straddled.
_SPLIT_TRAIN_LT = 179  # ~70% of the 0-255 bucket space
_SPLIT_VAL_LT = 217  # next ~15%; remainder is test

_SPLIT_CASE = f"""
    CASE WHEN {{b}} < {_SPLIT_TRAIN_LT} THEN 'train'
         WHEN {{b}} < {_SPLIT_VAL_LT} THEN 'val'
         ELSE 'test' END
"""


def _bucket_sql(key: str) -> str:
    return f"""((strpos('0123456789abcdef', substr(md5(CAST({key} AS VARCHAR)), 31, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CAST({key} AS VARCHAR)), 32, 1)) - 1))"""


@query(
    "cluster_aware_split",
    oracle=f"""
    WITH RECURSIVE {_WALK_CTES},
    clusters AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node
    ),
    asg AS (
        SELECT doc_id, cluster_id,
               {_SPLIT_CASE.format(b=_bucket_sql("cluster_id"))} AS split,
               {_SPLIT_CASE.format(b=_bucket_sql("doc_id"))} AS naive_split
        FROM clusters
    ),
    leak AS (
        SELECT cluster_id, COUNT(DISTINCT naive_split) AS n_naive_splits
        FROM asg GROUP BY cluster_id
    )
    SELECT split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT a.cluster_id) AS n_clusters,
           COUNT(DISTINCT CASE WHEN l.n_naive_splits > 1 THEN a.cluster_id END)
               AS n_leaky_clusters_naive
    FROM asg a JOIN leak l ON a.cluster_id = l.cluster_id
    GROUP BY split
    """,
    survey_ops="dedup,sampling,llm-prep",
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates: the
    split is a pure function of md5(cluster_id) — every document of a
    near-dup cluster lands in the same split — with per-split counts
    and the number of clusters the naive per-document split would have
    straddled (the leak this operator exists to prevent).

    Plan: reuses the connected-components labels (`dedup_clusters`),
    then two map-side md5 bucketings, one groupBy per cluster for the
    naive-straddle audit, one per split for the report. Assignment
    stability is the same property `stratified_sample` pins: a pure
    key function — stable across reruns, partitionings, engines — so
    incremental snapshots never reshuffle old docs between splits.
    """
    cl = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")

    def bucket(col: str) -> Column:
        return F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 31, 2), 16, 10
        ).cast("int")

    def split_of(b: Column) -> Column:
        return (
            F.when(b < _SPLIT_TRAIN_LT, "train")
            .when(b < _SPLIT_VAL_LT, "val")
            .otherwise("test")
        )

    asg = cl.select(
        "doc_id",
        "cluster_id",
        split_of(bucket("cluster_id")).alias("split"),
        split_of(bucket("doc_id")).alias("naive_split"),
    )
    leak = asg.groupBy("cluster_id").agg(
        F.countDistinct("naive_split").alias("n_naive_splits")
    )
    return (
        asg.join(leak, "cluster_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.countDistinct(
                F.when(F.col("n_naive_splits") > 1, F.col("cluster_id"))
            ).alias("n_leaky_clusters_naive"),
        )
    )


OVERLAP_PREFIX_TOKENS = 8


@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH fp AS (
        SELECT DISTINCT source,
               md5(array_to_string(
                   list_slice(string_split(lower(text), ' '), 1, {OVERLAP_PREFIX_TOKENS}),
                   ' ')) AS f
        FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_fps
    FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    survey_ops="dedup,A5,J7",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    8-token opening-prefix fingerprints they share — the curation
    artifact that tells you which crawls/feeds re-serve each other's
    content or share templating boilerplate (and which upstream to
    drop wholesale before paying per-document dedup). Prefix
    fingerprints (the `snapshot_incremental_dedup` key) catch shared
    openings that whole-text hashes miss.

    Plan: per-source distinct fingerprints (one hash aggregate), then
    a self-equi-join ON the fingerprint — quadratic only in true
    cross-source copies of the same fingerprint, never in corpus size;
    the (a.source < b.source) predicate halves the output. The count
    rollup rides the join's fingerprint partitioning.
    """
    from ..functions import text as TXT2

    d = parallel_docs(spark, sf_dir)
    prefix = F.slice(TXT2.tokens(F.lower(F.col("text"))), 1, OVERLAP_PREFIX_TOKENS)
    fp = d.select(
        "source", F.md5(F.concat_ws(" ", prefix)).alias("f")
    ).distinct()
    a = fp.select(F.col("source").alias("source_a"), "f")
    b = fp.select(F.col("source").alias("source_b"), "f")
    return (
        a.join(b, "f")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared_fps"))
    )


@query(
    "lsh_recall_report",
    oracle=f"""
    WITH {_PAIR_CTES},
    sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ex_pairs0 AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ex_pairs AS (
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
        FROM ex_pairs0
        JOIN sizes na ON doc_a = na.doc_id
        JOIN sizes nb ON doc_b = nb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.2
    ),
    j AS (
        SELECT e.jaccard, p.doc_a IS NOT NULL AS in_lsh
        FROM ex_pairs e
        LEFT JOIN pairs p ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b
    )
    SELECT (SELECT COUNT(*) FROM pairs) AS n_lsh,
           COUNT(*) AS n_exact_02,
           CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_05,
           CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_common_02,
           CAST(SUM(CASE WHEN in_lsh AND jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_common_05,
           CASE WHEN SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) = 0 THEN NULL
                ELSE CAST(SUM(CASE WHEN in_lsh AND jaccard >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
           END AS recall_at_05
    FROM j
    """,
    survey_ops="dedup,quality,eval",
)
def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation: measure the MinHash-LSH candidate
    generator's recall against the exact n-gram Jaccard ground truth —
    the 'is the approximate path actually finding the duplicates'
    report a pipeline runs on a sample before trusting LSH at full
    scale. One row: exact-pair counts at the 0.2 report threshold and
    the 0.5 near-dup band, LSH pair count, intersection counts, and
    recall@0.5 (LSH with 4 bands × 3 hashes targets s-curves around
    est_jaccard 0.25+, so 0.5-band recall is the SLO that matters).

    Both pair generators are this module's own gated queries reused as
    building blocks (shared shingle/sig caches make the combined plan
    one extra join, not a recompute); the oracle recomputes both sides
    from scratch in SQL. At 100 TB this runs on a deterministic sample
    — the exact side is quadratic by design and exists to audit the
    approximate side.
    """
    exact = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    lsh = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    n_lsh = lsh.agg(F.count("*").alias("n_lsh"))
    j = exact.join(
        lsh.withColumn("_in_lsh", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    hit05 = F.when(F.col("_in_lsh").isNotNull() & (F.col("jaccard") >= 0.5), 1).otherwise(0)
    agg = j.agg(
        F.count("*").alias("n_exact_02"),
        F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0)).cast("bigint").alias("n_exact_05"),
        F.sum(F.when(F.col("_in_lsh").isNotNull(), 1).otherwise(0)).cast("bigint").alias("n_common_02"),
        F.sum(hit05).cast("bigint").alias("n_common_05"),
    )
    return agg.crossJoin(F.broadcast(n_lsh)).select(
        "n_lsh",
        "n_exact_02",
        "n_exact_05",
        "n_common_02",
        "n_common_05",
        F.when(
            F.col("n_exact_05") > 0,
            F.col("n_common_05").cast("double") / F.col("n_exact_05").cast("double"),
        ).alias("recall_at_05"),
    )


@query(
    "lsh_threshold_calibration",
    oracle=f"""
    WITH {_PAIR_CTES}
    SELECT est_jaccard,
           COUNT(*) AS n_pairs,
           CAST(SUM(COUNT(*)) OVER (ORDER BY est_jaccard DESC)
                AS BIGINT) AS n_pairs_at_or_above
    FROM pairs
    GROUP BY est_jaccard
    """,
    survey_ops="dedup,audit",
)
def lsh_threshold_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration curve for the MinHash dedup tier (r5):
    pair counts per estimated-Jaccard level plus the cumulative
    count at-or-above each level — the table an operator reads to pick
    the dedup cutoff ("dropping to 0.5 removes N more pairs") BEFORE
    committing a destructive dedup pass. est_jaccard is discrete
    (k/{N_HASHES} agreement levels), so the curve is exact and tiny;
    the window runs over ≤{N_HASHES - 2} rows, never the pair set.

    Composes the gated `minhash_lsh_pairs` output — same signatures,
    same skew-guarded candidate join; this rollup is one map-side
    combined groupBy plus a driver-scale cumulative window.
    """
    from pyspark.sql import Window

    from ..functions.windows import one_partition

    pairs = minhash_lsh_pairs(spark, sf_dir)
    per_level = pairs.groupBy("est_jaccard").agg(F.count("*").alias("n_pairs"))
    # declared single partition (bounded: ≤10 discrete levels) — see
    # functions/windows.py for why this replaces an empty partition spec
    w = (
        Window.partitionBy(one_partition("est_jaccard"))
        .orderBy(F.col("est_jaccard").desc())
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    return per_level.select(
        "est_jaccard",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("n_pairs_at_or_above"),
    )
