"""Deduplication operators (extension, BASELINE.json): exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (the point of each variant):
- **exact** — hash-groupBy on a fingerprint: one shuffle keyed by
  md5(text); partial aggregation makes the shuffle carry one row per
  distinct fingerprint per map partition.
- **minhash_lsh** — the 100 TB near-dup path: per-doc signature is a
  narrow map-side computation (array higher-order functions, no
  explode); candidate generation is an equi-join on (band_idx,
  band_key) — shuffle bounded by band-bucket sizes, never |docs|²;
  verification joins only the candidate pairs back to their shingle
  sets. This is the standard shingle→minhash→band→bucket-join pipeline
  (Broder resemblance / LSH banding).
- **simhash** — 16-bit signature via per-token hash bit-voting; near-dup
  = small Hamming distance. Bit arithmetic only, engine-portable.
- **ngram_jaccard** — exact Jaccard on word-3-gram shingle sets for a
  bounded query subset (brute-force verification tier; at scale you
  run it only on LSH candidates).
- **embedding near-dup** — cosine ≥ threshold against a bounded query
  subset; the scale path buckets by LSH first (see similarity.py).

All hashing is md5-based so the DuckDB oracle reproduces signatures
bit-for-bit (portable across engines, unlike xxhash64/murmur).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..partitioning import widen_for_compute
from ..plans.catalog import register
from ..plans.hints import nonbroadcast_hint
from ..tables import load
from .similarity import cosine

# ---------------------------------------------------------------------------
# Shared shingling / signature expressions
# ---------------------------------------------------------------------------

N_HASHES = 8
N_BANDS = 4  # rows-per-band r = N_HASHES / N_BANDS = 2


def words(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda x: x != "")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; empty array when < n words.

    Built by zipping n shifted slices of the word array — a constant
    number of O(words) passes per row. (Per-gram slice() or element_at
    formulations re-evaluate the words() subexpression per gram ⇒
    O(words²) per doc; measured 2x slower at sf0.1.)"""
    ws = words(text)
    m = F.size(ws) - (n - 1)  # gram count
    zipped = F.slice(ws, 1, m)
    for k in range(1, n):
        zipped = F.zip_with(
            zipped, F.slice(ws, k + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(m >= 1, F.array_distinct(zipped)).otherwise(
        F.array().cast("array<string>")
    )


_MERSENNE_P = 2_147_483_647  # 2^31 - 1


def shingle_ab(shingle_col: Column) -> Column:
    """One md5 per shingle → (a, b) 32-bit pair for Carter-Wegman seed
    derivation: h_i(x) = (a + i·b) mod p. One hash instead of
    n_hashes hashes per shingle (~2x on the minhash bench), and the
    per-seed min runs over ints, not hex strings."""
    hashes = F.transform(shingle_col, lambda x: F.md5(x))
    return F.transform(
        hashes,
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("a"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("b"),
        ),
    )


def minhash_signature(ab_col: Column, n_hashes: int = N_HASHES) -> list[Column]:
    """Per-family min over the Carter-Wegman permutations of the (a,b)
    pairs; NULL when no shingles. (The unary-lambda factory matters: a
    default-arg lambda would be read by Spark as (element, index).)"""

    def _family(i: int):
        return lambda p: (p["a"] + i * p["b"]) % _MERSENNE_P

    return [F.array_min(F.transform(ab_col, _family(s))) for s in range(n_hashes)]


def band_keys(sig_cols: list[Column], n_bands: int = N_BANDS) -> list[Column]:
    r = len(sig_cols) // n_bands
    return [
        F.md5(F.concat_ws("|", *sig_cols[b * r : (b + 1) * r])) for b in range(n_bands)
    ]


# --- SQL-string twins of the signature expression builders (guide §7.3) ----
# Column-by-Column construction of the shingle→signature→band pipeline
# costs ~1700 py4j ROUND TRIPS per call — ~0.7 s of pure driver socket
# latency on a quiet JVM, 2-3 s under heap pressure — because every
# operator and every higher-order-function lambda hop is a synchronous
# socket exchange. Rendering the SAME expressions as SQL strings parsed
# JVM-side (one selectExpr per projection) builds the identical Catalyst
# tree in a handful of calls. The Column builders above stay the
# equivalence oracle: tests/test_plans.py pins canonical optimizedPlan
# equality AND row equality between the two formulations.


def shingles_sql(text: str, n: int = 3) -> str:
    """SQL twin of :func:`shingles` over column expression ``text``."""
    ws = f"filter(split({text}, ' '), x -> x != '')"
    m = f"(size({ws}) - {n - 1})"
    zipped = f"slice({ws}, 1, {m})"
    for k in range(1, n):
        zipped = (
            f"zip_with({zipped}, slice({ws}, {k + 1}, {m}), "
            f"(a, b) -> concat_ws(' ', a, b))"
        )
    return (
        f"case when {m} >= 1 then array_distinct({zipped}) "
        f"else cast(array() as array<string>) end"
    )


# SQL twin of shingle_ab(F.col("sh"))
_AB_SPARK_SQL = (
    "transform(transform(sh, x -> md5(x)), "
    "h -> struct(cast(conv(substring(h, 1, 8), 16, 10) as bigint) as a, "
    "cast(conv(substring(h, 9, 8), 16, 10) as bigint) as b))"
)


def _sig_sqls(n_hashes: int = N_HASHES) -> list[str]:
    """SQL twins of minhash_signature(F.col("ab")), aliased h0..h{n-1}."""
    return [
        f"array_min(transform(ab, p -> (p.a + {i} * p.b) % {_MERSENNE_P})) as h{i}"
        for i in range(n_hashes)
    ]


def _bands_posexplode_sql(
    n_hashes: int = N_HASHES, n_bands: int = N_BANDS
) -> str:
    """SQL twin of posexplode(array(*band_keys(...))) with the
    (band_idx, band_key) aliases."""
    r = n_hashes // n_bands
    arr = ", ".join(
        "md5(concat_ws('|', {}))".format(
            ", ".join(f"h{i}" for i in range(b * r, (b + 1) * r))
        )
        for b in range(n_bands)
    )
    return f"posexplode(array({arr})) as (band_idx, band_key)"


# SQL twin of the exact-Jaccard verify projection (|A∩B| / |A∪B| via
# inclusion-exclusion, union never materialized).
_JACCARD_SQL = (
    "(size(array_intersect(sh_a, sh_b)) / "
    "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b)))) as jaccard"
)


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct content fingerprint: canonical (min) id +
    group size. Reference analogue: distinct-set build
    (web_scraping.py:518-519) generalized to content hashing."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_keep_first(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Row-preserving dedup: keep the lowest-id row per content group."""
    w = Window.partitionBy(text_col).orderBy(id_col)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def minhash_lsh_pairs(
    docs: DataFrame, id_col: str, text_col: str, jaccard_threshold: float = 0.0
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, verified with exact
    Jaccard on shingle sets. Returns (doc_a, doc_b, jaccard)."""
    docs = widen_for_compute(docs)  # md5 pipeline must not run on 1 split
    # The shingle/signature subtree feeds the band self-join (twice) and
    # the verification joins (twice more) — persist it once instead of
    # letting Catalyst recompute the md5 pipeline per branch (measured
    # ~5x on bench). MEMORY_AND_DISK so the 100 TB path spills.
    base = (
        docs.selectExpr(
            f"`{id_col}` as doc_id", f"{shingles_sql(f'`{text_col}`')} as sh"
        )
        .filter("size(sh) > 0")
    )
    base = tracked_persist(base)
    sig = base.withColumn("ab", F.expr(_AB_SPARK_SQL)).selectExpr(
        "doc_id", "sh", *_sig_sqls()
    )
    bands = sig.selectExpr("doc_id", _bands_posexplode_sql())
    bands = tracked_persist(bands)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band_idx", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = base.select("doc_id", "sh")
    # O(corpus) shingle arrays: never broadcast; hash-vs-merge build
    # follows the session's memory posture (plans/hints.py).
    nb = nonbroadcast_hint(sets)
    verified = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")).hint(nb),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")).hint(nb),
            "doc_b",
        )
        # exact-int ratio: IEEE division is bit-identical across
        # engines — rounding (not dividing) is what diverges.
        # |A∪B| = |A|+|B|-|A∩B| (shingle arrays are distinct), so
        # the union array is never materialized — one O(n) pass per
        # pair instead of two.
        .selectExpr("doc_a", "doc_b", _JACCARD_SQL)
    )
    return verified.filter(F.col("jaccard") >= jaccard_threshold)


def ngram_jaccard_pairs(
    docs: DataFrame, query_pred: Column, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard for (query subset × corpus) pairs sharing ≥1
    shingle — the shingle join bounds the pair space."""
    docs = widen_for_compute(docs)
    base = (
        docs.select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col)).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    base = tracked_persist(base)
    q = base.filter(query_pred).select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    qx = q.select("doc_a", F.explode("sh_a").alias("shingle"))
    cx = base.select(F.col("doc_id").alias("doc_b"), F.explode("sh").alias("shingle"))
    cand = (
        qx.join(cx, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = (
        cand.join(q, "doc_a")
        .join(base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # exact-int ratio: IEEE division is bit-identical across
            # engines — rounding (not dividing) is what diverges.
            # |A∪B| via inclusion-exclusion — union never materialized.
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / (
                    F.size("sh_a") + F.size("sh_b")
                    - F.size(F.array_intersect("sh_a", "sh_b"))
                )
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


# --- SimHash ---------------------------------------------------------------

def token_hash16(token: Column) -> Column:
    """16-bit token hash: first 4 hex chars of md5, hex→int. Spark uses
    conv(_, 16, 10); the DuckDB oracle reproduces it with strpos nibble
    arithmetic — identical values either way."""
    return F.conv(F.substring(F.md5(token), 1, 4), 16, 10).cast("bigint")


def simhash16(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash per document (bit-voting over token hashes,
    multiplicity counted). The 16 vote aggregates and the bit fold are
    parsed from SQL text (same trees as the Column loop they replaced
    — r13, guide §7.3; integer arithmetic, oracle rows pin results)."""
    docs = widen_for_compute(docs)
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(words(F.col(text_col))).alias("w")
    ).withColumn("hv", token_hash16(F.col("w")))
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(hv, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"s{i}")
        for i in range(16)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sim = " + ".join(f"CASE WHEN s{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(16))
    return agg.selectExpr("doc_id", f"cast({sim} as bigint) as simhash")


def _simhash_segments(col: Column, n_seg: int, bits: int = 16) -> list[Column]:
    """Split a ``bits``-wide hash into ``n_seg`` contiguous bit segments
    (uneven widths allowed when n_seg does not divide bits)."""
    segs = []
    for i in range(n_seg):
        lo = bits * i // n_seg
        hi = bits * (i + 1) // n_seg
        segs.append(F.shiftright(col, lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1)))
    return segs


def simhash_near_pairs(sim: DataFrame, query_pred: Column, max_hamming: int) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via pigeonhole
    segment banding (VERDICT.md r1 #6) — NOT a crossJoin.

    Split the hash into ``max_hamming + 1`` segments: any pair within
    hamming distance h differs in at most h segments, so at least one
    segment is bit-identical (pigeonhole). Equi-joining on
    (segment_index, segment_value) therefore recovers EXACTLY the pairs
    the all-pairs scan would, while the pair space per bucket is
    |bucket|² instead of |q|×|corpus|. Multi-segment matches are deduped
    before the hamming verify. With 16-bit hashes each segment holds only
    4 bits (16 bucket values) — a real deployment scales this to 64-bit
    hashes / 16-bit segments, which this function supports via ``bits``
    in :func:`_simhash_segments`; AQE splits residual skewed buckets.
    """
    n_seg = max_hamming + 1
    sim = tracked_persist(sim)  # signature subtree feeds both join sides

    def banded(df: DataFrame, id_alias: str, sim_alias: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(id_alias),
            F.col("simhash").alias(sim_alias),
            F.posexplode(F.array(*_simhash_segments(F.col("simhash"), n_seg))).alias(
                "seg_idx", "seg_val"
            ),
        )

    cand = (
        banded(sim.filter(query_pred), "doc_a", "sim_a")
        .join(banded(sim, "doc_b", "sim_b"), ["seg_idx", "seg_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def embedding_near_dup(emb: DataFrame, query_pred: Column, threshold: float) -> DataFrame:
    q = emb.filter(query_pred).select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    c = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Catalog entries + DuckDB oracles
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load(spark, sf_dir, "documents"), "text", "doc_id")


register(
    "dedup_exact",
    dedup_exact,
    """
    SELECT md5(text) AS fingerprint,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)


def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load(spark, sf_dir, "documents")
    return dedup_keep_first(doc, "text", "doc_id").select("doc_id", "lang", "source")


register(
    "dedup_exact_keep_first",
    dedup_exact_keep_first,
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)


# Shared DuckDB SQL fragments reproducing the shingle/signature pipeline.
_WORDS_SQL = "list_filter(string_split(text, ' '), x -> x != '')"
_SHINGLES_SQL = f"""
  SELECT doc_id, list_distinct(
           list_transform(range(1, greatest(len({_WORDS_SQL}) - 1, 1)),
                          i -> array_to_string(({_WORDS_SQL})[i:i+2], ' '))
         ) AS sh
  FROM documents
  WHERE len({_WORDS_SQL}) >= 3
"""

# hex→int for DuckDB (no conv()): positional nibble arithmetic.
def _hex_int_sql(expr: str, start: int, n: int = 8) -> str:
    terms = [
        f"CAST((strpos('0123456789abcdef', substring({expr}, {start + k}, 1)) - 1) AS BIGINT) * {16 ** (n - 1 - k)}"
        for k in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


_AB_SQL = (
    "list_transform(sh, x -> md5(x))"  # one md5 per shingle (matches Spark)
)
_SIG_COLS_SQL = ", ".join(
    f"list_min(list_transform(ab, p -> (p['a'] + {s} * p['b']) % {_MERSENNE_P})) AS h{s}"
    for s in range(N_HASHES)
)
_AB_STRUCT_SQL = (
    "list_transform(hashes, h -> {'a': " + _hex_int_sql("h", 1) + ", 'b': " + _hex_int_sql("h", 9) + "})"
)
_BAND_COLS_SQL = ", ".join(
    "md5(concat_ws('|', "
    + ", ".join(f"h{b * (N_HASHES // N_BANDS) + j}" for j in range(N_HASHES // N_BANDS))
    + f")) AS band{b}"
    for b in range(N_BANDS)
)
_BANDS_UNION_FROM_BANDED = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM banded" for b in range(N_BANDS)
)

_MINHASH_ORACLE = f"""
    WITH shingled AS ({_SHINGLES_SQL}),
    hashed AS (SELECT doc_id, sh, {_AB_SQL} AS hashes FROM shingled),
    abbed AS (SELECT doc_id, sh, {_AB_STRUCT_SQL} AS ab FROM hashed),
    sigs AS (SELECT doc_id, sh, {_SIG_COLS_SQL} FROM abbed),
    banded AS (SELECT doc_id, {_BAND_COLS_SQL} FROM sigs),
    bands AS ({_BANDS_UNION_FROM_BANDED}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
    FROM cand
    JOIN shingled sa ON sa.doc_id = doc_a
    JOIN shingled sb ON sb.doc_id = doc_b
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load(spark, sf_dir, "documents"), "doc_id", "text")


register("dedup_minhash_lsh", dedup_minhash_lsh, _MINHASH_ORACLE)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(doc, F.col("doc_id") < 50, "doc_id", "text", threshold=0.2)


register(
    "dedup_ngram_jaccard",
    dedup_ngram_jaccard,
    f"""
    WITH shingled AS ({_SHINGLES_SQL}),
    q AS (SELECT doc_id AS doc_a, sh AS sh_a FROM shingled WHERE doc_id < 50),
    qx AS (SELECT doc_a, unnest(sh_a) AS shingle FROM q),
    cx AS (SELECT doc_id AS doc_b, unnest(sh) AS shingle FROM shingled),
    cand AS (SELECT DISTINCT doc_a, doc_b FROM qx JOIN cx USING (shingle) WHERE doc_a < doc_b)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(q.sh_a, sb.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(q.sh_a, sb.sh))) AS jaccard
      FROM cand JOIN q USING (doc_a) JOIN shingled sb ON sb.doc_id = doc_b
    ) WHERE jaccard >= 0.2
    """,
)


_HV_SQL = (
    "CAST((strpos('0123456789abcdef', substring(md5(w), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substring(md5(w), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substring(md5(w), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substring(md5(w), 4, 1)) - 1) AS BIGINT)"
)
_VOTE_COLS_SQL = ", ".join(
    f"SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}" for i in range(16)
)
_SIM_VALUE_SQL = " + ".join(f"CASE WHEN s{i} > 0 THEN {2**i} ELSE 0 END" for i in range(16))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash16(load(spark, sf_dir, "documents"), "doc_id", "text")


register(
    "dedup_simhash",
    dedup_simhash,
    f"""
    WITH tok AS (
      SELECT doc_id, {_HV_SQL} AS hv
      FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
            FROM documents)
    ),
    votes AS (SELECT doc_id, {_VOTE_COLS_SQL} FROM tok GROUP BY doc_id)
    SELECT doc_id, CAST({_SIM_VALUE_SQL} AS BIGINT) AS simhash FROM votes
    """,
)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = simhash16(load(spark, sf_dir, "documents"), "doc_id", "text")
    return simhash_near_pairs(sim, F.col("doc_id") < 100, max_hamming=3)


register(
    "dedup_simhash_pairs",
    dedup_simhash_pairs,
    f"""
    WITH tok AS (
      SELECT doc_id, {_HV_SQL} AS hv
      FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
            FROM documents)
    ),
    votes AS (SELECT doc_id, {_VOTE_COLS_SQL} FROM tok GROUP BY doc_id),
    sims AS (SELECT doc_id, CAST({_SIM_VALUE_SQL} AS BIGINT) AS simhash FROM votes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE a.doc_id < 100 AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb, F.col("vec_id") < 100, threshold=0.2)


from .similarity import _COS_SQL  # noqa: E402

register(
    "dedup_embedding_cosine",
    dedup_embedding_cosine,
    f"""
    WITH q AS (SELECT vec_id AS vec_a, embedding AS emb_a FROM embeddings WHERE vec_id < 100),
    pairs AS (
      SELECT vec_a, e.vec_id AS vec_b,
             {_COS_SQL.format(a='emb_a', b='e.embedding')} AS cos_sim
      FROM q CROSS JOIN embeddings e
      WHERE vec_a < e.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.2
    """,
)


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float,
    n_planes: int | None = None,
    occupancy_cap: int | None = None,
    refine_planes: int = 10,
) -> DataFrame:
    """Full-corpus embedding near-dup via random-hyperplane buckets —
    the 100 TB path for ``embedding_near_dup`` (whose broadcast-query
    shape is a verification tier, VERDICT.md r1). Self-equi-join on the
    8-bit RPH bucket: pair space is sum(|bucket|²), never |corpus|²;
    recall is the LSH tradeoff (near-identical vectors collide in all
    bits with high probability).

    ``n_planes`` applies the sizing rule (similarity.py): bucket count
    must GROW with the corpus — n_planes ≈ log2(N / target_occupancy) —
    or per-bucket pair enumeration trends toward N²/2^planes. The
    default 8 planes is the catalog/oracle shape; the 100x stress tier
    runs 14 planes (COVERAGE.md).

    ``occupancy_cap`` is the DENSE-REGION defense the 100x tier proved
    necessary: clustered corpora concentrate sign patterns, so a few
    buckets go quadratic no matter how many planes the global sizing
    rule adds (measured at 100x: mean occupancy 30 but max 37.6k — the
    top-5 buckets held 95% of a 3.6B-pair candidate mass). Rows in
    buckets above the cap get their key extended with ``refine_planes``
    extra hyperplanes (seed-independent of the first level), splitting
    each hot bucket ~2^refine_planes ways. Pairs straddling a sub-split
    are the recall price — the same trade as locally having
    n_planes + refine_planes bits, paid ONLY where density forces it.
    The occupancy count is a window over the same key the join shuffles
    on, so capping adds no extra shuffle of the corpus."""
    from pyspark.sql import Window

    from .similarity import RPH_PLANES, _rph_planes, rph_bucket

    planes = RPH_PLANES if n_planes is None else _rph_planes(n_planes, 64, seed=7)
    b = widen_for_compute(emb).select(
        F.col("vec_id"),
        F.col("embedding"),
        rph_bucket(F.col("embedding"), planes).alias("bucket"),
    )
    if occupancy_cap is not None:
        extra = _rph_planes(refine_planes, 64, seed=23)
        occ = F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        b = b.withColumn(
            "bucket",
            F.when(
                occ > occupancy_cap,
                F.concat(
                    F.col("bucket"), F.lit("|"), rph_bucket(F.col("embedding"), extra)
                ),
            ).otherwise(F.col("bucket")),
        )
    b = tracked_persist(b)  # bucket expression feeds both join sides
    return (
        b.alias("a")
        .join(b.alias("b"), "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dup_lsh(load(spark, sf_dir, "embeddings"), threshold=0.2)


from .similarity import _RPH_BUCKET_SQL  # noqa: E402

register(
    "dedup_embedding_lsh",
    dedup_embedding_lsh,
    f"""
    WITH b AS (SELECT vec_id, embedding, {_RPH_BUCKET_SQL.format(v='embedding')} AS bucket FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b,
             {_COS_SQL.format(a='a.embedding', b='bb.embedding')} AS cos_sim
      FROM b a JOIN b bb USING (bucket)
      WHERE a.vec_id < bb.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.2
    """,
)


# --- Near-containment (asymmetric Jaccard) ---------------------------------


def ngram_containment_pairs(
    docs: DataFrame, query_pred: Column, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """Containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| for (query subset
    × corpus) pairs sharing ≥1 shingle.

    Symmetric Jaccard misses quote/subset duplication: a short doc fully
    embedded in a long one has tiny Jaccard but containment ≈ 1 — the
    signal corpus-prep actually wants for "this doc is a fragment of
    that one". Same shingle-join candidate bound as the Jaccard path;
    the ratio is exact-int division (bit-identical across engines).
    """
    docs = widen_for_compute(docs)
    base = (
        docs.select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col)).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    base = tracked_persist(base)
    q = base.filter(query_pred).select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    qx = q.select("doc_a", F.explode("sh_a").alias("shingle"))
    cx = base.select(F.col("doc_id").alias("doc_b"), F.explode("sh").alias("shingle"))
    cand = (
        qx.join(cx, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = (
        cand.join(q, "doc_a")
        .join(base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a")
            ).alias("containment"),
        )
    )
    return verified.filter(F.col("containment") >= threshold)


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        doc, F.col("doc_id") < 50, "doc_id", "text", threshold=0.5
    )


register(
    "dedup_containment",
    dedup_containment,
    f"""
    WITH shingled AS ({_SHINGLES_SQL}),
    q AS (SELECT doc_id AS doc_a, sh AS sh_a FROM shingled WHERE doc_id < 50),
    qx AS (SELECT doc_a, unnest(sh_a) AS shingle FROM q),
    cx AS (SELECT doc_id AS doc_b, unnest(sh) AS shingle FROM shingled),
    cand AS (SELECT DISTINCT doc_a, doc_b FROM qx JOIN cx USING (shingle) WHERE doc_a != doc_b)
    SELECT doc_a, doc_b, containment FROM (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(q.sh_a, sb.sh)) AS DOUBLE) / len(q.sh_a) AS containment
      FROM cand JOIN q USING (doc_a) JOIN shingled sb ON sb.doc_id = doc_b
    ) WHERE containment >= 0.5
    """,
)


# ---------------------------------------------------------------------------
# Threshold sweep (dedup tuning table)
# ---------------------------------------------------------------------------


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-rate vs threshold in ONE pass: the banded candidate pairs are
    computed once (the expensive part), then every threshold tier counts
    its surviving pairs and affected docs — the table you read to pick a
    near-dup cutoff BEFORE spending cluster time on the full dedup.

    Thresholds ride as integer percents (a double join key invites
    representation drift); each pair row fans out to |tiers| rows, so
    the sweep costs |pairs|×4 tiny rows on top of one LSH run."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text")  # all candidates + exact jaccard
    tiers = F.explode(F.array(*[F.lit(t) for t in (30, 50, 70, 90)])).alias("t_pct")
    kept = (
        pairs.select("doc_a", "doc_b", "jaccard", tiers)
        .filter(F.col("jaccard") >= F.col("t_pct") / F.lit(100.0))
    )
    n_pairs = kept.groupBy("t_pct").agg(F.count(F.lit(1)).alias("n_pairs"))
    n_docs = (
        kept.select("t_pct", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("t_pct")
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    return n_pairs.join(n_docs, "t_pct").orderBy("t_pct")


register(
    "dedup_threshold_sweep",
    dedup_threshold_sweep,
    f"""
    WITH pairs AS ({_MINHASH_ORACLE}),
    tiers AS (SELECT unnest([30, 50, 70, 90]) AS t_pct),
    kept AS (
      SELECT t.t_pct, p.doc_a, p.doc_b
      FROM pairs p JOIN tiers t ON p.jaccard >= t.t_pct / 100.0
    ),
    np AS (SELECT t_pct, COUNT(*) AS n_pairs FROM kept GROUP BY t_pct),
    nd AS (
      SELECT t_pct, COUNT(DISTINCT d) AS n_docs
      FROM (SELECT t_pct, doc_a AS d FROM kept
            UNION ALL SELECT t_pct, doc_b FROM kept)
      GROUP BY t_pct
    )
    SELECT np.t_pct AS t_pct, np.n_pairs, nd.n_docs
    FROM np JOIN nd USING (t_pct)
    ORDER BY t_pct
    """,
)


# ---------------------------------------------------------------------------
# Incremental near-dup (new batch vs corpus)
# ---------------------------------------------------------------------------


def minhash_incremental_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    is_new: Column,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs where AT LEAST ONE side is in the ``is_new`` batch
    — the daily-ingest dedup path. The corpus signatures are computed
    (or, in production, READ from the persisted signature store) but the
    band self-join is replaced by new_bands ⋈ all_bands, so candidate
    work scales with |batch|, not |corpus|²: re-pairing the whole corpus
    on every ingest is the classic 100 TB dedup mistake.

    Result set is identical to filtering the full pair set on
    "any side new" (banding is deterministic, and every such pair is
    reachable through its new member's bands)."""
    docs = widen_for_compute(docs)
    base = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.expr(shingles_sql(f"`{text_col}`")).alias("sh"),
            is_new.alias("is_new"),
        )
        .filter("size(sh) > 0")
    )
    base = tracked_persist(base)
    sig = base.withColumn("ab", F.expr(_AB_SPARK_SQL)).selectExpr(
        "doc_id", "is_new", *_sig_sqls()
    )
    bands = sig.selectExpr("doc_id", "is_new", _bands_posexplode_sql())
    bands = tracked_persist(bands)
    cand = (
        bands.filter(F.col("is_new"))
        .alias("a")
        .join(bands.alias("b"), ["band_idx", "band_key"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    sets = base.select("doc_id", "sh")
    # O(corpus) shingle arrays: never broadcast; hash-vs-merge build
    # follows the session's memory posture (plans/hints.py).
    nb = nonbroadcast_hint(sets)
    verified = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")).hint(nb),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")).hint(nb),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            # union via inclusion-exclusion (arrays are distinct)
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / (
                    F.size("sh_a") + F.size("sh_b")
                    - F.size(F.array_intersect("sh_a", "sh_b"))
                )
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= jaccard_threshold)


def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog demo: the newest ~10% of doc_ids are "today's batch".
    The new/old split is pure integer math (doc_id*10 >= max*9) so both
    engines cut identically."""
    docs = load(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("mx"))
    docs = docs.crossJoin(F.broadcast(mx))
    return (
        minhash_incremental_pairs(
            docs, "doc_id", "text", F.col("doc_id") * 10 >= F.col("mx") * 9
        )
        .orderBy("doc_a", "doc_b")
    )


register(
    "dedup_incremental_pairs",
    dedup_incremental_pairs,
    f"""
    WITH allpairs AS ({_MINHASH_ORACLE}),
    m AS (SELECT MAX(doc_id) AS mx FROM documents)
    SELECT doc_a, doc_b, jaccard
    FROM allpairs, m
    WHERE jaccard >= 0.5
      AND (doc_a * 10 >= mx * 9 OR doc_b * 10 >= mx * 9)
    ORDER BY doc_a, doc_b
    """,
)


# ---------------------------------------------------------------------------
# MinHash estimate-accuracy audit
# ---------------------------------------------------------------------------


def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit: for every banded candidate pair, the
    signature-estimated Jaccard (matching components / N_HASHES) next to
    the exact shingle Jaccard — the table you read before trusting an
    8-hash signature at cluster scale (E[matches]/N = J; with N=8 the
    estimate is coarse by design, and THIS query quantifies it).

    Parity: per-pair integers only (match count, set sizes) plus the
    single exact-Jaccard division — no cross-pair double aggregation
    (averaging IEEE doubles is order-dependent and engine-divergent).

    The signature+shingle side of the verify joins is O(corpus) with
    heavy arrays and must NEVER broadcast — the planner's size estimate
    comes from the compressed scan and undershoots the materialized
    arrays by orders of magnitude (OOM'd a 1 GiB bare driver at the 10×
    stress tier, round 4). nonbroadcast_hint pins the scale-safe plan
    (hash build on the provisioned engine session, spill-safe
    sort-merge under a bare heap — plans/hints.py)."""
    docs = widen_for_compute(load(spark, sf_dir, "documents"))
    base = (
        docs.selectExpr("doc_id", f"{shingles_sql('text')} as sh")
        .filter("size(sh) > 0")
    )
    base = tracked_persist(base)
    sig = base.withColumn("ab", F.expr(_AB_SPARK_SQL)).selectExpr(
        "doc_id", "sh", *_sig_sqls()
    )
    sig = tracked_persist(sig)
    bands = sig.selectExpr("doc_id", _bands_posexplode_sql())
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band_idx", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(N_HASHES)],
    )
    matches = sum(
        (F.col(f"ha{i}") == F.col(f"hb{i}")).cast("int") for i in range(N_HASHES)
    )
    return (
        cand.join(sa.hint(nonbroadcast_hint(sa)), "doc_a")
        .join(sb.hint(nonbroadcast_hint(sb)), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            matches.alias("est_matches"),
            F.lit(N_HASHES).alias("n_hashes"),
            # union via inclusion-exclusion (arrays are distinct)
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / (
                    F.size("sh_a") + F.size("sh_b")
                    - F.size(F.array_intersect("sh_a", "sh_b"))
                )
            ).alias("exact_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


_ACC_MATCHES_SQL = " + ".join(
    f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
)

register(
    "dedup_minhash_accuracy",
    dedup_minhash_accuracy,
    f"""
    WITH shingled AS ({_SHINGLES_SQL}),
    hashed AS (SELECT doc_id, sh, {_AB_SQL} AS hashes FROM shingled),
    abbed AS (SELECT doc_id, sh, {_AB_STRUCT_SQL} AS ab FROM hashed),
    sigs AS (SELECT doc_id, sh, {_SIG_COLS_SQL} FROM abbed),
    banded AS (SELECT doc_id, {_BAND_COLS_SQL} FROM sigs),
    bands AS ({_BANDS_UNION_FROM_BANDED}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST({_ACC_MATCHES_SQL} AS INT) AS est_matches,
           {N_HASHES} AS n_hashes,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.sh, sb.sh))) AS exact_jaccard
    FROM cand
    JOIN sigs sa ON sa.doc_id = doc_a
    JOIN sigs sb ON sb.doc_id = doc_b
    ORDER BY doc_a, doc_b
    """,
)


# ---------------------------------------------------------------------------
# Cross-source duplication matrix
# ---------------------------------------------------------------------------


def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate which: near-dup pairs rolled up to an
    (source_a, source_b) matrix with source names order-normalized so
    (A,B) and (B,A) land in one cell. THE triage table before assigning
    dedup blame/budget across crawl feeds — a hot diagonal means
    within-source boilerplate, a hot off-diagonal means mirrored
    content.

    Scale: pairs are LSH-bounded; the doc→source map joins in (2x) and
    the final agg is |sources|² — trivially small."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.5)
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")), "doc_a")
        .join(src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


register(
    "dedup_source_matrix",
    dedup_source_matrix,
    f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) WHERE jaccard >= 0.5),
    tagged AS (
      SELECT least(sa.source, sb.source) AS source_a,
             greatest(sa.source, sb.source) AS source_b
      FROM pairs
      JOIN documents sa ON sa.doc_id = doc_a
      JOIN documents sb ON sb.doc_id = doc_b
    )
    SELECT source_a, source_b, COUNT(*) AS n_pairs
    FROM tagged
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
)


# ---------------------------------------------------------------------------
# N-gram novelty (corpus redundancy growth)
# ---------------------------------------------------------------------------


def dedup_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's shingles whose
    FIRST corpus occurrence (min doc_id) is this doc — the curve data
    teams watch to decide when a growing crawl stops contributing new
    content (novelty → 0 means you're paying to re-ingest the corpus).

    Scale: explode shingles → one hash agg for first-owner → join back →
    per-doc integer counts; the exploded volume is the same the minhash
    path already pays, and the ratio is a single int/int division."""
    docs = widen_for_compute(load(spark, sf_dir, "documents"))
    base = (
        docs.select(F.col("doc_id"), shingles(F.col("text")).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    ex = base.select("doc_id", F.explode("sh").alias("shingle"))
    first = ex.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        ex.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("bigint")
            .alias("n_novel"),
            (
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


register(
    "dedup_ngram_novelty",
    dedup_ngram_novelty,
    f"""
    WITH shingled AS ({_SHINGLES_SQL}),
    ex AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
    first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM ex GROUP BY shingle)
    SELECT ex.doc_id AS doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN first_doc = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(CAST(SUM(CASE WHEN first_doc = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
             / COUNT(*) AS novelty
    FROM ex JOIN first USING (shingle)
    GROUP BY ex.doc_id
    ORDER BY ex.doc_id
    """,
)


# --- Prefix-filtered EXACT set-similarity self-join (AllPairs/PPJoin) ------

def prefix_filter_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """Exact Jaccard ≥ t_num/t_den self-join via prefix filtering — the
    deterministic (non-LSH) corpus-scale near-dup path.

    Every other near-dup tier here is probabilistic (minhash bands,
    simhash segments, hyperplane buckets). This one is EXACT and still
    avoids the |docs|² pair space, using the AllPairs/PPJoin prefix
    principle (Bayardo et al., WWW'07; Vernica et al., SIGMOD'10 for
    the MapReduce formulation this mirrors):

    1. order each doc's shingle set by a single GLOBAL total order —
       (document frequency asc, shingle asc). Rarity-first ordering is
       a heuristic for bucket size, but ANY shared total order keeps
       the filter lossless;
    2. a pair with Jaccard ≥ t must share a token within each side's
       first ``n - ceil(t·n) + 1`` tokens (overlap ≥ ceil(t·n) pigeon-
       holes into the prefix), so candidate generation is an equi-join
       on PREFIX tokens only;
    3. symmetric size filter in the join condition (t·na ≤ nb ≤ na/t
       cross-multiplied in integers — no float thresholds anywhere);
    4. exact verification on candidates: inter·t_den ≥ t_num·union.

    The output is IDENTICAL to the brute-force all-pairs join — the
    DuckDB oracle below IS brute force, so a green row proves the
    pruning lossless end-to-end, not just plausible.

    Scale design: shuffles are (a) shingle df count, (b) per-doc
    re-sort, (c) the prefix-token equi-join, (d) candidate verify.
    Hot tokens appear in a doc's prefix only when they are among its
    rarest — the frequent-token buckets that blow up an
    any-shared-shingle join never become join keys here. The shingle-
    set sides of the verify join are O(corpus) wide and pinned
    non-broadcast (hints.py memory-posture rule).
    """
    threshold = t_num / t_den
    docs = widen_for_compute(docs)
    base = (
        docs.select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col)).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    base = tracked_persist(base)

    ex = base.select("doc_id", F.explode("sh").alias("shingle"))
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        ex.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("osh"))
        .withColumn("n", F.size("osh"))
        # integer ceil(t·n) = (t_num·n + t_den - 1) div t_den
        .withColumn(
            "prefix_len",
            F.col("n")
            - F.expr(f"(n * {t_num} + {t_den} - 1) div {t_den}").cast("int")
            + F.lit(1),
        )
    )
    px = ordered.select(
        "doc_id",
        "n",
        F.explode(F.expr("slice(osh, 1, prefix_len)")).alias("p"),
    ).select("doc_id", "n", F.col("p.shingle").alias("shingle"))
    # Both sides of the candidate self-join read THIS frame; without the
    # persist the whole explode→df→sort→slice pipeline runs twice.
    px = tracked_persist(px)

    a = px.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "shingle"
    )
    b = px.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "shingle"
    )
    cand = (
        a.join(
            b,
            (a["shingle"] == b["shingle"])
            & (F.col("doc_a") < F.col("doc_b"))
            # symmetric size filter: t·na ≤ nb and t·nb ≤ na
            & (F.col("nb") * t_den >= F.col("na") * t_num)
            & (F.col("na") * t_den >= F.col("nb") * t_num),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )

    sa = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sa.hint(nonbroadcast_hint(sa)), "doc_a")
        .join(sb.hint(nonbroadcast_hint(sb)), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter_size"),
            # union via inclusion-exclusion (arrays are distinct)
            (
                F.size("sh_a") + F.size("sh_b")
                - F.size(F.array_intersect("sh_a", "sh_b"))
            ).alias("union_size"),
        )
        # integer threshold test — no float compare at the boundary
        .filter(F.col("inter_size") * t_den >= t_num * F.col("union_size"))
        .withColumn(
            "jaccard", F.col("inter_size") / F.col("union_size")
        )  # exact-int ratio: bit-identical across engines
    )
    return verified.select("doc_a", "doc_b", "inter_size", "union_size", "jaccard")


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_filter_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", t_num=1, t_den=2
    )


register(
    "dedup_jaccard_prefix",
    dedup_jaccard_prefix,
    # Brute-force all-pairs oracle: prefix filtering is LOSSLESS, so the
    # operator must reproduce this exactly — the green row is a proof of
    # the pruning, not just of the arithmetic.
    f"""
    WITH shingled AS ({_SHINGLES_SQL})
    SELECT doc_a, doc_b, inter_size, union_size,
           CAST(inter_size AS DOUBLE) / union_size AS jaccard
    FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS inter_size,
             CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS INT) AS union_size
      FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    )
    WHERE inter_size * 2 >= 1 * union_size
    """,
)


# --- End-to-end dedup cascade (the composed production pipeline) -----------

def dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tier elimination ledger of the composed dedup pipeline a
    100 TB run actually executes — cheap tiers first so each stage
    sees only the previous stage's survivors:

        0 input     → corpus size
        1 exact     → byte-identical text (hash groupBy, one shuffle)
        2 canonical → formatting-insensitive fingerprint on tier-1
                      survivors (lowercase/strip/collapse — textstats
                      canonical_text)
        3 near_dup  → MinHash-LSH pairs among tier-2 survivors,
                      verified exact Jaccard ≥ 0.5, transitive closure
                      (graph.connected_components), min-id canonical
                      per cluster

    Running LSH on survivors is identical to filtering full-corpus
    pairs to surviving endpoints (banding is per-doc, so the subset's
    candidate set IS the full candidate set restricted to the subset)
    — which is exactly how the DuckDB oracle states tier 3, making the
    equivalence externally checked rather than claimed.

    Each tier's output is a keep-min-per-group reduction, so the
    cascade is deterministic and idempotent; the ledger shape (tier,
    eliminated, survivors) is what a data-governance review asks for.
    """
    from .graph import connected_components

    docs = tracked_persist(
        widen_for_compute(load(spark, sf_dir, "documents")).select("doc_id", "text")
    )
    s1 = tracked_persist(
        docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id", "text")
    )
    from .textstats import canonical_text

    canon = s1.withColumn("fp", F.md5(canonical_text(F.col("text"))))
    m2 = canon.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    s2 = tracked_persist(canon.join(m2, "doc_id").select("doc_id", "text"))

    # Overlap the tier-1/2 survivor materialization with the LSH/closure
    # plan construction (r14, guide §2.6 — VERDICT r13 next-1): the
    # closure's round-0 job needs the s2 persist filled, and the driver
    # spends a few hundred ms single-threaded building the minhash and
    # closure plans first — submit the fill from a helper thread so the
    # cluster computes docs→s1→s2 while the driver builds plans. The
    # cache manager serializes any per-partition race with round 0;
    # results are unchanged (the fill is the same subtree round 0 would
    # compute). The fill is wrapped in inheritable_thread_target at
    # submit time, so its jobs inherit the caller's job group.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    sc = spark.sparkContext

    def _fill_tiers() -> None:
        sc.setJobDescription("dedup_cascade: tier-1/2 survivor fill")
        s2.count()
        sc.setJobDescription(None)

    with ThreadPoolExecutor(max_workers=1) as _pool:
        _fill = _pool.submit(inheritable_thread_target(spark)(_fill_tiers))
        pairs = minhash_lsh_pairs(s2, "doc_id", "text", jaccard_threshold=0.5)
        labels = connected_components(pairs, "doc_a", "doc_b")
        _fill.result()
    e3 = labels.filter(F.col("label") != F.col("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("e3")
    )

    c0 = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n0"))
    c1 = s1.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    c2 = s2.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    counts = (
        c0.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(e3))
    )
    tiers = [
        ("0_input", F.lit(0).cast("bigint"), F.col("n0")),
        ("1_exact", F.col("n0") - F.col("n1"), F.col("n1")),
        ("2_canonical", F.col("n1") - F.col("n2"), F.col("n2")),
        ("3_near_dup", F.col("e3"), F.col("n2") - F.col("e3")),
    ]
    # ONE evaluation of the counts subtree (r13): the previous 4-branch
    # unionAll re-evaluated every count aggregate (c0/c1/c2 scans + the
    # e3 label aggregate) once PER TIER ROW — 16 aggregate subtrees in
    # one 163-node plan. Exploding an array of tier structs over the
    # single counts row emits the same 4 rows from 4 subtrees.
    out = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("tier"),
                        elim.alias("eliminated"),
                        surv.alias("survivors"),
                    )
                    for name, elim, surv in tiers
                ]
            )
        ).alias("t")
    ).select("t.tier", "t.eliminated", "t.survivors")
    return out.orderBy("tier")


_CANON_FP_SQL = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g')))"
)

register(
    "dedup_cascade",
    dedup_cascade,
    f"""
    WITH RECURSIVE
    s1 AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
    canon AS (SELECT doc_id, text, {_CANON_FP_SQL} AS fp FROM s1),
    m2 AS (SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY fp),
    s2 AS (SELECT c.doc_id, c.text FROM canon c JOIN m2 USING (doc_id)),
    pairs_full AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) WHERE jaccard >= 0.5),
    pairs AS (
      SELECT p.doc_a, p.doc_b FROM pairs_full p
      JOIN s2 a ON a.doc_id = p.doc_a
      JOIN s2 b ON b.doc_id = p.doc_b
    ),
    edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
        SELECT s, s FROM edges
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s
    ),
    labels AS (SELECT a AS node, MIN(b) AS label FROM reach GROUP BY a),
    e3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS e3 FROM labels WHERE label != node),
    c AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n0,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n2,
             (SELECT e3 FROM e3) AS e3
    )
    SELECT '0_input' AS tier, CAST(0 AS BIGINT) AS eliminated, n0 AS survivors FROM c
    UNION ALL SELECT '1_exact', n0 - n1, n1 FROM c
    UNION ALL SELECT '2_canonical', n1 - n2, n2 FROM c
    UNION ALL SELECT '3_near_dup', e3, n2 - e3 FROM c
    ORDER BY tier
    """,
)


# ---------------------------------------------------------------------------
# Exact-substring (cross-document n-gram span) duplication audit
# ---------------------------------------------------------------------------

_SPAN_N = 8  # gram width: long enough that shared grams mean real boilerplate


def _position_grams(text: Column, n: int = _SPAN_N) -> Column:
    """ALL word n-grams in positional order (duplicates kept — unlike
    :func:`shingles`, which distincts for set-Jaccard): zip n shifted
    slices, one O(words) pass per row."""
    ws = words(text)
    m = F.size(ws) - (n - 1)
    zipped = F.slice(ws, 1, m)
    for k in range(1, n):
        zipped = F.zip_with(
            zipped, F.slice(ws, k + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(m >= 1, zipped).otherwise(F.array().cast("array<string>"))


def duplicate_span_stats(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-SUBSTRING duplication audit — the span-level sibling of the
    doc-level dedup family (the "train-data memorization" measurement
    of Lee et al. 2022, 'Deduplicating Training Data Makes Language
    Models Better', arXiv:2107.06499, re-expressed relationally instead
    of via suffix arrays): for every document, how many of its word
    8-gram positions are covered by a gram that ALSO occurs in another
    document.

    Plan: posexplode grams (md5-compacted) → two-level aggregate for
    grams spanning >= 2 docs → semi join back → per-doc counts. Scale:
    the gram shuffle is O(total tokens) with map-side partial agg; the
    shared-gram set is boilerplate-sized, the join a hash equi-join on
    the gram fingerprint — never doc x doc. A full suffix-array build
    gives arbitrary-length spans but needs global sorted order; fixed-n
    gram cover is the standard distributed approximation (a span of
    >= n duplicated words is detected by its n-gram cover exactly).
    """
    docs = widen_for_compute(docs)
    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.transform(_position_grams(F.col(text_col)), F.md5)).alias(
                "pos", "g"
            ),
        )
    )
    grams = tracked_persist(grams)
    shared = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    dup_pos = (
        grams.join(shared, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    totals = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        totals.join(dup_pos, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias("n_dup_grams"),
            # exact-int ratio: IEEE-identical across engines unrounded
            (F.coalesce("n_dup_grams", F.lit(0)) / F.col("n_grams")).alias("dup_frac"),
        )
    )


def text_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_span_stats(load(spark, sf_dir, "documents"), "doc_id", "text")


register(
    "text_duplicate_ngram_spans",
    text_duplicate_ngram_spans,
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    pos AS (
      SELECT doc_id, ws, UNNEST(range(1, len(ws) - {_SPAN_N - 2})) AS i
      FROM toks WHERE len(ws) >= {_SPAN_N}
    ),
    grams AS (
      SELECT doc_id, i,
             md5(array_to_string(ws[i:i + {_SPAN_N - 1}], ' ')) AS g
      FROM pos
    ),
    shared AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup_pos AS (
      SELECT doc_id, COUNT(*) AS n_dup_grams
      FROM grams WHERE g IN (SELECT g FROM shared)
      GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(d.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           COALESCE(d.n_dup_grams, 0) / t.n_grams AS dup_frac
    FROM totals t LEFT JOIN dup_pos d USING (doc_id)
    """,
)


# ---------------------------------------------------------------------------
# SemDeDup: semantic (embedding-cluster) deduplication
# ---------------------------------------------------------------------------

_SEM_CELLS = 16
_SEM_T = 0.2  # cosine threshold within a cell


def _semdedup_cell_expr(cent_rows) -> Column:
    """The semdedup cell assignment (nearest-of-first-C centroids,
    first-max tie resolution) as ONE parsed expression (r13, guide
    §7.3): the per-centroid Column construction cost C × ~15 py4j
    round trips (~2 s of serial driver time at C=16 in the catalog
    construction profile). Same tree — :func:`_semdedup_cell_column`
    is the verbatim Column-API twin kept as the equivalence oracle
    (tests/test_plans.py pins canonical-plan AND row equality)."""
    from ..functions.bulklit import sql_double_array
    from .similarity import _cosine_sql_frag

    sims_sql = "array(" + ",".join(
        f"round({_cosine_sql_frag('`embedding`', sql_double_array(float(x) for x in r.embedding))}, 4)"
        for r in cent_rows
    ) + ")"
    ids_sql = "array(" + ",".join(f"{int(r.vec_id)}L" for r in cent_rows) + ")"
    return F.expr(
        f"element_at({ids_sql}, "
        f"CAST(array_position({sims_sql}, array_max({sims_sql})) AS INT))"
    )


def _semdedup_cell_column(cent_rows) -> Column:
    """Pre-r13 Column-by-Column cell assignment, verbatim — the
    equivalence oracle for :func:`_semdedup_cell_expr`."""
    from ..functions.bulklit import lit_double_array, lit_long_array

    sims = F.array(
        *[
            F.round(
                cosine(
                    F.col("embedding"),
                    lit_double_array([float(x) for x in r.embedding]),
                ),
                4,
            )
            for r in cent_rows
        ]
    )
    ids_lit = lit_long_array([int(r.vec_id) for r in cent_rows])
    return F.element_at(ids_lit, F.array_position(sims, F.array_max(sims)).cast("int"))


def semdedup_cells(
    emb: DataFrame,
    n_cells: int = _SEM_CELLS,
    threshold: float = _SEM_T,
    cell_cap: int | None = None,
    refine_planes: int = 8,
    witness_k: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster
    embeddings, then inside each cluster drop all but one of every
    near-duplicate ε-ball — the method behind "semantic dedup" passes
    on LLM pretraining corpora, where paraphrases share no shingles and
    MinHash is blind.

    Deterministic re-expression: cells are nearest-of-first-C centroids
    (the engine-portable codebook stand-in used by topk_ivf —
    similarity.py); within a cell, a vector is DROPPED iff a
    smaller-id vector sits within cosine >= threshold (the paper keeps
    the member closest to the centroid; lowest-id is the same
    keep-one-per-ball semantics made engine-stable, documented delta).

    Scale: cell assignment is a broadcast map-side argmax (corpus never
    shuffles except by cell); the within-cell pair join is bounded by
    cell population. ``cell_cap`` is the hot-cell defense (the same
    refine-plane key extension embedding_near_dup_lsh's occupancy_cap
    proved out on the 100x tier): cells above the cap get their join
    key extended with random-hyperplane sign bits, splitting each
    ~2^refine_planes ways — near-identical vectors still collide in
    every refine bit, so exact clones keep getting caught; the recall
    price is only paid where density forces it. The occupancy count is
    a window over the SAME key the join shuffles on (no extra corpus
    shuffle).

    Refinement cannot split a GENUINE mega-cluster (vectors that truly
    sit in one ε-ball share every refine bit — the x100 stress tier
    builds one holding ~30% of the corpus), and there pair enumeration
    is inherently quadratic. The capped path therefore also bounds the
    JOIN'S LEFT SIDE to the ``witness_k`` smallest ids per sub-bucket:
    a vector is dropped iff it is within threshold of ANY smaller-id
    witness. Exact when a sub-bucket holds <= witness_k rows (every
    smaller id is a witness); in denser sub-buckets a vector whose only
    in-ball smaller-id neighbors all rank past the k-th id is missed —
    the documented linear-work approximation (dense balls near-always
    contain a min-id witness). Work per sub-bucket drops from |B|²/2 to
    |B|·k. Output is the per-cell ledger (bounded by n_cells), not the
    pair list.
    """
    # Cell assignment is a MAP-SIDE argmax over a centroid literal
    # array — zero shuffle of the corpus. (The broadcast-join + window
    # formulation moves |corpus| x C rows carrying two vectors each
    # through a shuffle just to pick a max per vec_id: at the x100 tier
    # that was a multi-GB exchange and the stage that blew the time
    # budget.) The driver holds C x dim floats — the same bounded
    # centroid state the k-means operator collects. First-max tie
    # resolution == (sim DESC, cent_id ASC), matching the oracle.
    cent_rows = sorted(
        emb.filter(F.col("vec_id") < n_cells).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    cell = _semdedup_cell_expr(cent_rows)
    assigned = widen_for_compute(emb).select(
        "vec_id", "embedding", cell.cast("bigint").alias("cell")
    )
    jkey = F.col("cell").cast("string")
    if cell_cap is not None:
        from .similarity import _rph_planes, rph_bucket

        extra = _rph_planes(refine_planes, 64, seed=29)
        occ = F.count(F.lit(1)).over(Window.partitionBy("cell"))
        jkey = F.when(
            occ > cell_cap,
            F.concat(jkey, F.lit("|"), rph_bucket(F.col("embedding"), extra)),
        ).otherwise(jkey)
    assigned = tracked_persist(assigned.withColumn("_jkey", jkey))
    a = assigned.select(
        F.col("_jkey"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a")
    )
    if cell_cap is not None:
        # witness side: k smallest ids per sub-bucket (WindowGroupLimit
        # prunes map-side before the shuffle)
        ww = Window.partitionBy("_jkey").orderBy("id_a")
        a = (
            a.withColumn("_wrn", F.row_number().over(ww))
            .filter(F.col("_wrn") <= witness_k)
            .drop("_wrn")
        )
    b = assigned.select(
        F.col("_jkey"),
        F.col("cell"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("e_b"),
    )
    dropped = (
        a.join(b, "_jkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine(F.col("e_a"), F.col("e_b")), 4) >= threshold)
        .select("cell", F.col("id_b").alias("vec_id"))
        .distinct()
    )
    per_cell = assigned.groupBy("cell").agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    drops = dropped.groupBy("cell").agg(F.count(F.lit(1)).cast("bigint").alias("n_dropped"))
    return (
        per_cell.join(drops, "cell", "left")
        .select(
            "cell",
            "n_vecs",
            F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
        )
    )


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_cells(load(spark, sf_dir, "embeddings"))


register(
    "dedup_semdedup",
    dedup_semdedup,
    f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cent_emb
      FROM embeddings WHERE vec_id < {_SEM_CELLS}
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             ROUND(
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent_emb[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.cent_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               4) AS sim
      FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT a.cell, b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND(
              list_sum(list_transform(range(1, len(a.embedding) + 1),
                       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
              4) >= {_SEM_T}
    ),
    per_cell AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM assigned GROUP BY cell
    ),
    drops AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_dropped FROM dropped GROUP BY cell
    )
    SELECT p.cell, p.n_vecs, CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM per_cell p LEFT JOIN drops d USING (cell)
    """,
)
