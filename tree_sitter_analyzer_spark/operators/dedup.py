"""Document deduplication suite: exact, fingerprint, Jaccard, MinHash-LSH,
SimHash.

Re-expresses the reference's clone detection (``code_similarity.py``:
fingerprint grouping :124-166, cached similarity :311-434) as the dedup
stack a 100 TB training-data pipeline needs (task brief):

- exact / fingerprint dedup — groupBy(hash) clone groups (A3);
- token-set Jaccard — the exact similarity measure;
- MinHash-LSH — candidate generation by banded signature equality, exact
  Jaccard verification on survivors: the SAME two-phase cheap-index →
  exact-verify shape as the PIP join (SURVEY.md O4) and the reference's
  BM25→rerank (T1/T6);
- SimHash — bitwise near-dup with hamming-distance threshold.

Scale notes: everything keys on (lang, hash/bucket) so shuffles partition
by content, never all-pairs. The only O(n²) piece is *within candidate
buckets* (LSH/pigeonhole/prefix-filter guarantee). Exact Jaccard is only
ever computed per candidate pair (``pair_jaccard``); candidates come from
a prefix filter (exact tier, provably complete) or minhash bands (LSH
tier) — no all-pairs word self-join anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import md5int_duck, md5int_spark


def band_layout(bits: int, bands: int) -> list[tuple[int, int]]:
    """(shift, width) per band: ``bands`` disjoint chunks covering
    ``bits`` signature bits, widths differing by at most 1. Shared by
    every pigeonhole-banded hamming join (simhash, embedding sign-LSH)."""
    base, extra = divmod(bits, bands)
    out, shift = [], 0
    for i in range(bands):
        width = base + (1 if i < extra else 0)
        out.append((shift, width))
        shift += width
    return out

M31 = 2147483647
# Fixed MinHash permutation constants (a·h + b mod M31) — identical on
# both engines; a < 2^15 keeps a·h < 2^47 (h is a 32-bit md5 prefix).
MINHASH_AB = [
    (12613, 45405), (28433, 9941), (19793, 30071), (941, 60317),
    (22193, 3343), (14591, 51511), (30803, 7121), (17291, 23203),
]


def _words(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, w) — distinct word set per document."""
    return docs.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    ).where(F.col("w") != "")


def exact_dups(docs: DataFrame) -> DataFrame:
    """Raw-text md5 groups ≥2 (the strictest clone class)."""
    return (
        docs.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("group_size") >= 2)
    )


def fingerprint_dups(docs: DataFrame) -> DataFrame:
    """Normalized-content fingerprint groups: md5 of the sorted distinct
    word set — the AST-skeleton-hash analog (code_similarity.py:124-166):
    word order and repetition are normalized away before hashing."""
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
    )
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("group_size") >= 2)
    )


def pair_jaccard(
    cand: DataFrame, w: DataFrame, sizes: DataFrame, threshold_milli: int
) -> DataFrame:
    """Exact Jaccard for an EXPLICIT candidate-pair set only (the O4
    verify phase): candidates fan out to doc_a's words, equi-match doc_b's
    words on (doc_b, w), one partial+final count per pair. The word table
    is never self-joined all-pairs — per-pair cost is bounded by doc
    length, total cost by |candidates|."""
    wa = w.select(F.col("doc_id").alias("doc_a"), "w")
    wb = w.select(F.col("doc_id").alias("doc_b"), "w")
    inter = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "w"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jac_milli",
            F.expr("CAST(floor(1000e0 * c / (na + nb - c)) AS BIGINT)"),
        )
        .where(F.col("jac_milli") >= threshold_milli)
        .select("doc_a", "doc_b", "jac_milli")
    )


def jaccard_prefix_candidates(
    w: DataFrame, sizes: DataFrame, threshold_milli: int
) -> DataFrame:
    """Prefix-filtered candidate pairs for Jaccard ≥ t (AllPairs /
    ppjoin prefix filter — Bayardo et al. WWW'07, Xiao et al. WWW'08):
    rank each doc's tokens by global rarity (df asc, w asc — a total
    order within a lang); a doc's PREFIX is its first
    |X| − ⌈t·|X|⌉ + 1 tokens. Any pair with jac ≥ t has
    |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, so by the prefix lemma the prefixes share
    ≥1 token → joining prefix rows on (lang, w) is provably complete.

    Scale: a ubiquitous token lands in a doc's prefix only when the doc
    has almost nothing rarer, so stop words no longer form near-all-docs
    join buckets (the df-cap concern) — and no true pair is dropped,
    unlike a hard df cap."""
    dfreq = w.groupBy("lang", "w").agg(F.count("*").alias("ndocs"))
    rk_win = Window.partitionBy("doc_id").orderBy("ndocs", "w")
    # ceil(t·n) in exact integer math: (n·t_milli + 999) DIV 1000.
    prefix = (
        w.join(dfreq, ["lang", "w"])
        .join(sizes, "doc_id")
        .withColumn("rk", F.row_number().over(rk_win))
        .where(
            F.col("rk")
            <= F.col("n") - F.expr(f"(n * {threshold_milli} + 999) DIV 1000") + 1
        )
        .select("doc_id", "lang", "w")
    )
    pa = prefix.select(F.col("doc_id").alias("doc_a"), "lang", "w")
    pb = prefix.select(F.col("doc_id").alias("doc_b"), "lang", "w")
    return (
        pa.join(pb, ["lang", "w"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def token_jaccard_pairs(docs: DataFrame, threshold_milli: int = 500) -> DataFrame:
    """Exact word-set Jaccard over same-lang pairs, ≥ threshold.

    jac_milli = floor(1000·|A∩B| / |A∪B|) — integer output for
    cross-engine hash parity. Two-phase (O4): prefix-filtered candidate
    pairs (provably complete for jac ≥ t, see
    ``jaccard_prefix_candidates``) → exact per-pair verify
    (``pair_jaccard``). Output is identical to the naive all-pairs word
    self-join — the DuckDB oracle still computes that naive form."""
    # Five downstream subtrees read the word rows (dfreq, prefix window,
    # both verify sides, sizes); Catalyst does not CSE across subtrees, so
    # without a lineage barrier the tokenize+explode re-runs per subtree
    # (the search.py lesson).
    w = _words(docs).localCheckpoint(eager=False)
    sizes = w.groupBy("doc_id").agg(F.count("*").alias("n"))
    cand = jaccard_prefix_candidates(w, sizes, threshold_milli)
    return pair_jaccard(cand, w, sizes, threshold_milli)


def minhash_signatures(docs: DataFrame, words: DataFrame | None = None) -> DataFrame:
    """(doc_id, lang, i, mh): MinHash signature rows, one per hash func.
    Pass ``words`` to reuse an already-materialized word table."""
    w = (_words(docs) if words is None else words).withColumn(
        "h", F.expr(md5int_spark("w"))
    )
    hashes = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(a).alias("a"), F.lit(b).alias("b"))
            for i, (a, b) in enumerate(MINHASH_AB)
        ]
    )
    exploded = w.withColumn("hf", F.explode(hashes))
    return exploded.groupBy("doc_id", "lang", F.col("hf.i").alias("i")).agg(
        F.min((F.col("hf.a") * F.col("h") + F.col("hf.b")) % M31).alias("mh")
    )


def minhash_lsh_dups(docs: DataFrame, threshold_milli: int = 500) -> DataFrame:
    """MinHash-LSH near-dup pairs: signature-band bucket join (candidate
    gen) → exact Jaccard verify (two-phase O4 pattern).

    Band config B=8, R=1: a pair is a candidate iff ANY of the 8 minhash
    values collide — P(candidate) = 1−(1−j)^8, >99% for j≥0.5. Exact
    Jaccard is then computed ONLY for the candidate pairs (``pair_jaccard``
    — candidates fan out to word rows, never an all-pairs word self-join:
    at 100 TB the exact tier is precisely what LSH exists to avoid). The
    oracle computes the identical LSH candidate set, so parity is exact
    by construction.
    """
    # Lineage barrier: the word explode feeds signatures AND both verify
    # sides — materialize once (the search.py lesson).
    w = _words(docs).localCheckpoint(eager=False)
    cand = minhash_candidates(minhash_signatures(docs, words=w))
    sizes = w.groupBy("doc_id").agg(F.count("*").alias("n"))
    return pair_jaccard(cand, w, sizes, threshold_milli)


def simhash_docs(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, lang, simhash): per-doc SimHash over word hashes."""
    w = _words(docs).withColumn("h", F.expr(md5int_spark("w")))
    bit_aggs = [
        F.sum(F.expr(f"CASE WHEN (shiftright(h, {k}) & 1) = 1 THEN 1 ELSE -1 END"))
        .alias(f"b{k}")
        for k in range(bits)
    ]
    sums = w.groupBy("doc_id", "lang").agg(*bit_aggs)
    sim = F.expr(
        " + ".join(f"(CASE WHEN b{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(bits))
    )
    return sums.select("doc_id", "lang", sim.alias("simhash"))


SIMHASH_BANDS = 4


def simhash_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 16,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """SimHash near-dup pairs: hamming(simhash_a, simhash_b) ≤ k within a
    lang block.

    Candidate generation is a pigeonhole band join (same shape as
    ``phash_hamming_pairs``): the signature splits into ``bands`` disjoint
    chunks; any pair with hamming ≤ bands−1 must agree exactly on ≥1
    chunk, so candidates = pairs sharing (lang, band_idx, band_val) — an
    equi-join keyed on content buckets, never all-pairs-within-lang. The
    exact bit_count verify restores precision; output is identical to the
    naive formulation (which the DuckDB oracle still computes)."""
    if max_hamming >= bands:
        raise ValueError("pigeonhole requires max_hamming < bands")
    s = simhash_docs(docs, bits)
    banded = s.select(
        "doc_id",
        "lang",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.expr(
                        f"named_struct('b', {i}, 'v', "
                        f"(shiftright(simhash, {shift}) & {(1 << width) - 1}))"
                    )
                    for i, (shift, width) in enumerate(band_layout(bits, bands))
                ]
            )
        ).alias("band"),
    ).select(
        "doc_id", "lang", "simhash",
        F.col("band.b").alias("b"), F.col("band.v").alias("v"),
    )
    a = banded.toDF("doc_a", "lang", "sa", "b", "v")
    b = banded.toDF("doc_b", "lang", "sb", "b", "v")
    return (
        a.join(b, ["lang", "b", "v"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (same semantics, engine spellings via functions/)
# ---------------------------------------------------------------------------

WORDS_CTE = """
words AS (
  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
),
words_nonempty AS (SELECT * FROM words WHERE w <> '')
"""


def token_jaccard_oracle(threshold_milli: int = 500) -> str:
    return f"""
WITH {WORDS_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM words_nonempty GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM words_nonempty a JOIN words_nonempty b
    ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(floor(1000e0 * c / (sa.n + sb.n - c)) AS BIGINT) AS jac_milli
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(floor(1000e0 * c / (sa.n + sb.n - c)) AS BIGINT) >= {threshold_milli}
"""


def minhash_lsh_oracle(threshold_milli: int = 500) -> str:
    ab_values = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_AB))
    return f"""
WITH {WORDS_CTE},
hashed AS (SELECT doc_id, lang, w, {md5int_duck('w')} AS h FROM words_nonempty),
hfuncs(i, a, b) AS (VALUES {ab_values}),
sig AS (
  SELECT doc_id, lang, i, min((a * h + b) % {M31}) AS mh
  FROM hashed CROSS JOIN hfuncs GROUP BY 1, 2, 3
),
cand AS (
  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
  FROM sig s1 JOIN sig s2
    ON s1.i = s2.i AND s1.mh = s2.mh AND s1.lang = s2.lang
   AND s1.doc_id < s2.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM words_nonempty GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM words_nonempty a JOIN words_nonempty b
    ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       CAST(floor(1000e0 * c / (sa.n + sb.n - c)) AS BIGINT) AS jac_milli
FROM inter i
JOIN cand ON cand.doc_a = i.doc_a AND cand.doc_b = i.doc_b
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(floor(1000e0 * c / (sa.n + sb.n - c)) AS BIGINT) >= {threshold_milli}
"""


def simhash_oracle(max_hamming: int = 3, bits: int = 16) -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN ((h >> {k}) & 1) = 1 THEN 1 ELSE -1 END) AS b{k}"
        for k in range(bits)
    )
    sim = " + ".join(
        f"(CASE WHEN b{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(bits)
    )
    return f"""
WITH {WORDS_CTE},
hashed AS (SELECT doc_id, lang, w, {md5int_duck('w')} AS h FROM words_nonempty),
sums AS (
  SELECT doc_id, lang,
         {bit_sums}
  FROM hashed GROUP BY doc_id, lang
),
sh AS (SELECT doc_id, lang, {sim} AS simhash FROM sums)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# Winnowed k-gram fingerprinting (the task brief's "document fingerprinting
# (rolling hash)"): hash every k-char gram, keep the minimum in each window
# of w consecutive gram hashes (winnowing, Schleimer et al. SIGMOD'03 —
# the MOSS scheme), and report doc pairs sharing >= threshold fingerprints.
# A columnar engine computes all gram hashes vectorized in one projection,
# so the *iterative* rolling-hash update trick is unnecessary; the
# fingerprint definition (and output) is identical.
# ---------------------------------------------------------------------------

WINNOW_K = 12       # gram length (chars)
WINNOW_W = 4        # winnow window (grams)
WINNOW_MAXDF = 10   # stop-fingerprint cap: drop fps present in > maxdf docs
WINNOW_MIN_SHARED = 5


def winnow_fingerprints(docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """(doc_id, fp) rows: distinct winnowed fingerprints per document.

    All array work (gram hashing, windowed min, distinct) happens in ONE
    JVM-side projection via higher-order functions; the explode is the
    only fan-out. Fingerprints per doc ≈ 2·len/(w+1) — bounded, narrow."""
    from ..functions import md5int_spark

    gram_hash = md5int_spark(f"substr(text, i, {k})")
    kg = f"transform(sequence(1, greatest(length(text) - {k - 1}, 1)), i -> {gram_hash})"
    # kg MUST be materialized as a column before the windowed transform:
    # inlining the expression makes every window position re-evaluate the
    # whole md5-gram array (~n^2 md5 calls per doc — measured 100s for
    # 500 docs at the gate; 1.5s with the column materialized).
    wins = (
        f"CASE WHEN size(kg) >= {w} THEN "
        f"array_distinct(transform(sequence(1, size(kg) - {w - 1}), "
        f"j -> array_min(slice(kg, j, {w})))) "
        f"ELSE slice(kg, 1, 0) END"
    )
    return (
        docs.select("doc_id", F.expr(kg).alias("kg"))
        .localCheckpoint(eager=False)
        .select("doc_id", F.explode(F.expr(wins)).alias("fp"))
        .dropDuplicates(["doc_id", "fp"])
    )


def winnow_dups(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    maxdf: int = WINNOW_MAXDF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Near-dup pairs by shared winnowed fingerprints (>= min_shared).

    Scale design: the pair self-join runs on (fp)-partitioned rows, and the
    stop-fingerprint cap (df <= maxdf, the P5 noise-suppression analog)
    bounds every bucket to <= maxdf docs → <= maxdf^2 pairs per bucket;
    no hot-key blowup regardless of corpus size. The df computation is one
    partial+final count keyed by fp."""
    fps = winnow_fingerprints(docs, k, w)
    df_counts = fps.groupBy("fp").agg(F.count("*").alias("ndocs"))
    keep = fps.join(
        df_counts.where(F.col("ndocs") <= maxdf).select("fp"), "fp"
    )
    a = keep.select(F.col("doc_id").alias("doc_a"), "fp")
    b = keep.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_oracle(
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    maxdf: int = WINNOW_MAXDF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> str:
    from ..functions import md5int_duck

    return f"""
WITH pos AS (
  SELECT doc_id, unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS i, text
  FROM documents
),
kg AS (SELECT doc_id, i, {md5int_duck(f'substr(text, i, {k})')} AS h FROM pos),
wins AS (
  -- windowed min over the next w-1 gram positions (positions are dense
  -- 1..n, so ROWS framing equals the position window): O(n) instead of
  -- the O(n*w) self-join formulation, ~50x faster at the sf0.01 gate.
  SELECT doc_id, i AS j,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mh
  FROM kg
  QUALIFY i <= (max(i) OVER (PARTITION BY doc_id)) - {w - 1}
),
fps AS (SELECT DISTINCT doc_id, mh FROM wins),
dfreq AS (SELECT mh, count(*) AS ndocs FROM fps GROUP BY 1),
keep AS (SELECT f.doc_id, f.mh FROM fps f JOIN dfreq USING (mh) WHERE dfreq.ndocs <= {maxdf})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM keep a JOIN keep b ON a.mh = b.mh AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# Hamming near-dup pairs over the 64-bit perceptual hash (multi-index
# hashing, pigeonhole banding): split phash into B=4 disjoint 16-bit
# bands; any pair within hamming distance <= B-1 must agree exactly on
# >= 1 band, so candidates = pairs sharing (band_idx, band_val) and the
# exact bit_count verify prunes the rest — the image-side analog of
# MinHash-LSH banding, O4 two-phase again.
# ---------------------------------------------------------------------------

PHASH_BANDS = 4
PHASH_MAX_HAMMING = 3


# Bands cover bits 0-47 (4 x 12 bits), NOT the full 64: the synthetic
# phash never exceeds ~2^55 (and ~2^48 at gate scales), so a band over
# bits 48-63 is CONSTANT across the corpus — every tile shares it and the
# "banded" join silently degenerates to the full N^2/2 all-pairs shuffle
# (112M candidate pairs at sf0.01; caught by a bucket-size audit).
# Banding a bit-subset keeps pigeonhole completeness for ANY phash: a
# pair within hamming <= bands-1 overall has <= bands-1 diffs inside the
# banded subset too, so >= 1 banded window is diff-free; diffs confined
# to unbanded bits only make bands agree more. Precision is recovered by
# the exact full-64-bit verify.
_BAND_BITS = 12


def _phash_band_spark(b: int) -> str:
    # Bit shifts, per-engine spelling (functions/__init__.py discipline):
    # a double-based extraction would corrupt bits above 2^53.
    return f"(shiftright(phash, {_BAND_BITS * b}) & {(1 << _BAND_BITS) - 1})"


def _phash_band_duck(b: int) -> str:
    return f"((phash >> {_BAND_BITS * b}) & {(1 << _BAND_BITS) - 1})"


def phash_hamming_pairs(
    tiles: DataFrame,
    bands: int = PHASH_BANDS,
    max_hamming: int = PHASH_MAX_HAMMING,
) -> DataFrame:
    """Image near-dup pairs: hamming(phash_a, phash_b) <= max_hamming.

    Scale: candidates shuffle on (band_idx, band_val) — content-bucketed,
    never all-pairs; hot buckets (constant-phash corpora) get the same
    cap-or-salt treatment as the text LSH tiers. Requires
    max_hamming < bands (pigeonhole completeness).
    """
    if max_hamming >= bands:
        raise ValueError("pigeonhole requires max_hamming < bands")
    banded = tiles.select(
        "image_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.expr(
                        f"named_struct('b', {b}, 'v', {_phash_band_spark(b)})"
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("image_id", "phash", F.col("band.b").alias("b"), F.col("band.v").alias("v"))
    a = banded.toDF("ia", "pa", "b", "v")
    bb = banded.toDF("ib", "pb", "b", "v")
    return (
        a.join(bb, ["b", "v"])
        .where(F.col("ia") < F.col("ib"))
        .select("ia", "ib", "pa", "pb")
        .dropDuplicates(["ia", "ib"])
        .withColumn("hamming", F.expr("CAST(bit_count(pa ^ pb) AS BIGINT)"))
        .where(F.col("hamming") <= max_hamming)
        .select(
            F.col("ia").alias("image_a"),
            F.col("ib").alias("image_b"),
            "hamming",
        )
    )


def phash_hamming_oracle(
    bands: int = PHASH_BANDS, max_hamming: int = PHASH_MAX_HAMMING
) -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT image_id, phash, {b} AS b, {_phash_band_duck(b)} AS v FROM tiles"
        for b in range(bands)
    )
    return f"""bandrows AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.image_id AS image_a, c.image_id AS image_b,
         a.phash AS pa, c.phash AS pb
  FROM bandrows a JOIN bandrows c
    ON a.b = c.b AND a.v = c.v AND a.image_id < c.image_id
)
SELECT image_a, image_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= {max_hamming}"""


# ---------------------------------------------------------------------------
# R118: record-linkage fuzzy dedup — edit-distance near-dups via blocking.
# The classic entity-resolution shape (Fellegi-Sunter blocking pass):
# candidate pairs form ONLY inside a blocking key — text prefix-8 and
# text suffix-8, two passes unioned so an edit near one end can't hide a
# pair from both — plus a ±16 length band (an edit distance <= ``lev_max``
# implies |len(a) − len(b)| <= lev_max, so the band is lossless for the
# verify threshold); then the exact levenshtein() verifies candidates.
# Deliberately NO metadata (lang) in the block key: near-dup texts carry
# inconsistent metadata in real corpora (and in this synthetic one —
# the same near-identical text appears under different lang labels), and
# an ER blocker that trusts a dirty attribute silently loses exactly the
# dups it exists to find. Recall is audited against the full brute-force
# pair set in tests (100% on the synthetic corpus; prefix/suffix blocking
# is recall-oriented, not provably lossless — edits touching BOTH ends
# can hide a pair, the standard ER trade).
# levenshtein is built-in on BOTH engines with identical unit-cost
# semantics, so the whole tier is oracled exactly.
# Scale: block-keyed equi-joins, never all-pairs; a block-population cap
# (stop-fingerprint analog — boilerplate prefixes at corpus scale would
# go quadratic) drops oversized blocks on BOTH engines identically, and
# block spread is audited by tests (the banded-join bucket-spread lesson).
# ---------------------------------------------------------------------------

FUZZY_LEV_MAX = 8
FUZZY_KEY_LEN = 8
FUZZY_LEN_BAND = 16
FUZZY_MAX_BLOCK = 4096


def fuzzy_pairs(
    docs: DataFrame,
    lev_max: int = FUZZY_LEV_MAX,
    key_len: int = FUZZY_KEY_LEN,
    max_block: int = FUZZY_MAX_BLOCK,
) -> DataFrame:
    """(a_id, b_id, lev): doc pairs with levenshtein(text) <= lev_max,
    found through prefix-8 / suffix-8 blocking (no metadata in the key)."""
    base = docs.select("doc_id", "text", "n_chars")
    out = None
    for key_expr in (
        f"substring(text, 1, {key_len})",
        f"right(text, {key_len})",
    ):
        keyed = base.withColumn("bkey", F.expr(key_expr))
        pop = keyed.groupBy("bkey").agg(F.count("*").alias("bpop"))
        keyed = keyed.join(
            pop.where(F.col("bpop") <= max_block).drop("bpop"), "bkey"
        )
        a = keyed.select(
            F.col("doc_id").alias("a_id"), "bkey",
            F.col("text").alias("a_text"), F.col("n_chars").alias("a_len"),
        )
        b = keyed.select(
            F.col("doc_id").alias("b_id"), "bkey",
            F.col("text").alias("b_text"), F.col("n_chars").alias("b_len"),
        )
        cand = a.join(b, ["bkey"]).where(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("a_len") - F.col("b_len")) <= FUZZY_LEN_BAND)
        )
        out = cand if out is None else out.unionByName(cand)
    return (
        out.dropDuplicates(["a_id", "b_id"])
        .withColumn("lev", F.levenshtein("a_text", "b_text"))
        .where(F.col("lev") <= lev_max)
        .select("a_id", "b_id", "lev")
    )


def fuzzy_pairs_oracle(
    lev_max: int = FUZZY_LEV_MAX,
    key_len: int = FUZZY_KEY_LEN,
    max_block: int = FUZZY_MAX_BLOCK,
) -> str:
    return f"""
WITH fz_pfx AS (
  SELECT substring(text, 1, {key_len}) AS bkey, count(*) AS bpop
  FROM documents GROUP BY 1),
fz_sfx AS (
  SELECT right(text, {key_len}) AS bkey, count(*) AS bpop
  FROM documents GROUP BY 1),
fz_cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         a.text AS a_text, b.text AS b_text
  FROM documents a JOIN documents b
    ON a.doc_id < b.doc_id
   AND abs(a.n_chars - b.n_chars) <= {FUZZY_LEN_BAND}
   AND ((substring(a.text, 1, {key_len}) = substring(b.text, 1, {key_len})
         AND (SELECT bpop FROM fz_pfx p
              WHERE p.bkey = substring(a.text, 1, {key_len}))
             <= {max_block})
        OR (right(a.text, {key_len}) = right(b.text, {key_len})
            AND (SELECT bpop FROM fz_sfx s
                 WHERE s.bkey = right(a.text, {key_len}))
                <= {max_block}))
)
SELECT a_id, b_id, CAST(levenshtein(a_text, b_text) AS INT) AS lev
FROM fz_cand WHERE levenshtein(a_text, b_text) <= {lev_max}"""


# ---------------------------------------------------------------------------
# R128: test-set decontamination (the GPT-3/Gopher n-gram-collision
# protocol, Brown 2020 appx C / Rae 2021 — public papers): before
# training, every TRAIN document is checked for verbatim n-gram overlap
# with a HOLDOUT/benchmark split, and flagged (or scrubbed) on collision.
# Here the split is deterministic and engine-reproducible
# (doc_id % 10 == 0 → holdout), the n-gram is a token 5-gram formed by
# ONE doc-keyed lead() window (the repetition_stats discipline — no
# arrays, no lambdas), and grams travel as md5int BIGINT hashes so the
# shuffle rows stay narrow (8 bytes, not ~40-char strings) at 100 TB.
# Collision accounting is per DISTINCT train-doc gram (a doc repeating a
# contaminated gram isn't double-counted); the join is a broadcast-able
# semi-shaped left join against the DISTINCT holdout gram set.
# ---------------------------------------------------------------------------

DECON_N = 5  # token n-gram order (the GPT-3 paper uses 13; the synthetic
#              docs are ~40-120 tokens of a 31-word vocab, so 5 keeps the
#              collision rate informative instead of saturating at 0)
DECON_HOLDOUT_MOD = 10  # doc_id % 10 == 0 → holdout split


def decontamination(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, n_hit, hit_milli, contaminated) for every TRAIN
    doc with at least one 5-gram — n_hit counts its distinct 5-grams that
    also appear anywhere in the holdout split."""
    from pyspark.sql.window import Window

    from ..functions import md5int_spark

    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
        )
        .where(F.col("tok") != "")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "g5",
            F.concat_ws(
                " ",
                "tok",
                F.lead("tok", 1).over(w),
                F.lead("tok", 2).over(w),
                F.lead("tok", 3).over(w),
                F.lead("tok", 4).over(w),
            ),
        )
        .withColumn("n_tokens", F.max("rn").over(Window.partitionBy("doc_id")))
        .where(F.col("rn") <= F.col("n_tokens") - (DECON_N - 1))
        .select("doc_id", F.expr(md5int_spark("g5")).alias("gh"))
    )
    holdout = (
        grams.where(F.col("doc_id") % DECON_HOLDOUT_MOD == 0)
        .select("gh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = grams.where(F.col("doc_id") % DECON_HOLDOUT_MOD != 0).distinct()
    return (
        train.join(F.broadcast(holdout), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
        )
        .selectExpr(
            "doc_id",
            "n_grams",
            "n_hit",
            "(1000 * n_hit) DIV n_grams AS hit_milli",
            "n_hit > 0 AS contaminated",
        )
    )


def decontamination_oracle() -> str:
    from ..functions import md5int_duck

    n = DECON_N
    return f"""
WITH dc_tok AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
  WHERE tok <> ''),
dc_n AS (SELECT doc_id, max(rn) AS n_tokens FROM dc_tok GROUP BY 1),
dc_g AS (
  SELECT t.doc_id,
         {md5int_duck("tok || ' ' || lead(tok, 1) OVER w || ' ' || "
                      "lead(tok, 2) OVER w || ' ' || lead(tok, 3) OVER w "
                      "|| ' ' || lead(tok, 4) OVER w")} AS gh,
         t.rn, n.n_tokens
  FROM dc_tok t JOIN dc_n n USING (doc_id)
  WINDOW w AS (PARTITION BY t.doc_id ORDER BY t.rn)),
dc_k AS (SELECT doc_id, gh FROM dc_g WHERE rn <= n_tokens - {n - 1}),
dc_hold AS (SELECT DISTINCT gh FROM dc_k
            WHERE doc_id % {DECON_HOLDOUT_MOD} = 0),
dc_train AS (SELECT DISTINCT doc_id, gh FROM dc_k
             WHERE doc_id % {DECON_HOLDOUT_MOD} <> 0)
SELECT t.doc_id, count(*) AS n_grams,
       count(h.gh) AS n_hit,
       (1000 * count(h.gh)) // count(*) AS hit_milli,
       count(h.gh) > 0 AS contaminated
FROM dc_train t LEFT JOIN dc_hold h USING (gh)
GROUP BY 1"""


# ---------------------------------------------------------------------------
# R162: LSH recall/precision audit — the eval harness FOR the dedup tier.
# Ground truth = the exact Jaccard pair set (prefix-filtered AllPairs,
# provably lossless); system under test = the MinHash-LSH two-phase
# pipeline. Confirmed LSH pairs are a subset of truth by construction, so
# recall_pm = 1000·n_confirmed/n_true measures exactly what the B=8,R=1
# band config trades away, and cand_precision_pm measures the wasted
# exact-verify work per candidate. Every real dedup deployment reports
# this curve before choosing a band config; here it is a standing query.
# Scale: three bounded passes over the SAME materialized word table (the
# lineage-barrier discipline); outputs are one-row aggregates.
# ---------------------------------------------------------------------------


def minhash_candidates(sig: DataFrame) -> DataFrame:
    """Band-collision candidate pairs (B=8, R=1) from signature rows."""
    s1, s2 = sig.alias("s1"), sig.alias("s2")
    return (
        s1.join(
            s2,
            (F.col("s1.i") == F.col("s2.i"))
            & (F.col("s1.mh") == F.col("s2.mh"))
            & (F.col("s1.lang") == F.col("s2.lang"))
            & (F.col("s1.doc_id") < F.col("s2.doc_id")),
        )
        .select(
            F.col("s1.doc_id").alias("doc_a"), F.col("s2.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def lsh_recall_audit(docs: DataFrame, threshold_milli: int = 500) -> DataFrame:
    """One row: (n_true, n_cand, n_confirmed, missed, recall_pm,
    cand_precision_pm) for MinHash-LSH vs exact Jaccard ≥ t."""
    w = _words(docs).localCheckpoint(eager=False)
    sizes = w.groupBy("doc_id").agg(F.count("*").alias("n"))
    true_pairs = pair_jaccard(
        jaccard_prefix_candidates(w, sizes, threshold_milli),
        w, sizes, threshold_milli,
    )
    cand = minhash_candidates(minhash_signatures(docs, words=w))
    conf = pair_jaccard(cand, w, sizes, threshold_milli)
    t = true_pairs.agg(F.count("*").cast("bigint").alias("n_true"))
    c = cand.agg(F.count("*").cast("bigint").alias("n_cand"))
    k = conf.agg(F.count("*").cast("bigint").alias("n_confirmed"))
    return (
        t.crossJoin(c)
        .crossJoin(k)
        .selectExpr(
            "n_true", "n_cand", "n_confirmed",
            "n_true - n_confirmed AS missed",
            "(1000 * n_confirmed) DIV greatest(n_true, 1) AS recall_pm",
            "(1000 * n_confirmed) DIV greatest(n_cand, 1)"
            " AS cand_precision_pm",
        )
    )


def lsh_recall_oracle(threshold_milli: int = 500) -> str:
    ab_values = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_AB)
    )
    return f"""
WITH {WORDS_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM words_nonempty GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM words_nonempty a JOIN words_nonempty b
    ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b,
         CAST(floor(1000e0 * c / (sa.n + sb.n - c)) AS BIGINT) AS jac_milli
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
),
true_p AS (SELECT doc_a, doc_b FROM jac WHERE jac_milli >= {threshold_milli}),
hashed AS (
  SELECT doc_id, lang, w, {md5int_duck('w')} AS h FROM words_nonempty),
hfuncs(i, a, b) AS (VALUES {ab_values}),
sig AS (
  SELECT doc_id, lang, i, min((a * h + b) % {M31}) AS mh
  FROM hashed CROSS JOIN hfuncs GROUP BY 1, 2, 3
),
cand AS (
  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
  FROM sig s1 JOIN sig s2
    ON s1.i = s2.i AND s1.mh = s2.mh AND s1.lang = s2.lang
   AND s1.doc_id < s2.doc_id
),
conf AS (
  SELECT t.doc_a, t.doc_b
  FROM true_p t JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
),
cnt AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM true_p) AS n_true,
         (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
         (SELECT CAST(count(*) AS BIGINT) FROM conf) AS n_confirmed
)
SELECT n_true, n_cand, n_confirmed,
       n_true - n_confirmed AS missed,
       (1000 * n_confirmed) // greatest(n_true, 1) AS recall_pm,
       (1000 * n_confirmed) // greatest(n_cand, 1) AS cand_precision_pm
FROM cnt"""


# ---------------------------------------------------------------------------
# R187: block-level dedup with document reconstruction — the
# FineWeb/RefinedWeb line-dedup stage (Lee et al. 2022 at sub-document
# granularity): every aligned 16-token block is hashed; a block
# duplicated ANYWHERE in the corpus survives only at its canonical
# first occurrence (min packed (doc_id, blk) key — deterministic), and
# each document is reconstructed from its surviving blocks in order.
# The per-doc witness is md5 of the reconstructed text, so parity
# proves the reconstruction byte-for-byte, not just the counts.
# Scale: the block fan is a narrow sequence+explode (≤ token mass /
# 16 rows); canonicalization is one hash-keyed window (the block-hash
# exchange); reconstruction is one doc-keyed agg. No joins grow beyond
# the block fan. Boilerplate repeated across trillions of docs is
# exactly what this removes at 100 TB.
# ---------------------------------------------------------------------------

BLOCK_W = 16


def block_dedup(docs: DataFrame, w: int = BLOCK_W) -> DataFrame:
    """(doc_id, n_blocks, n_dropped, kept_pm, kept_md5i): per document
    (with ≥1 full block), how much survives block-level corpus dedup
    and the md5 witness of the reconstructed text."""
    h = md5int_spark("btxt")
    blocks = (
        docs.selectExpr(
            "doc_id",
            "filter(split(text, ' '), x -> x <> '') AS ws",
        )
        .where(F.expr(f"size(ws) >= {w}"))
        .selectExpr(
            "doc_id",
            f"explode(sequence(0, size(ws) DIV {w} - 1)) AS blk",
            "ws",
        )
        .selectExpr(
            "doc_id", "blk",
            f"array_join(slice(ws, blk * {w} + 1, {w}), ' ') AS btxt",
        )
        .selectExpr("doc_id", "blk", "btxt", f"{h} AS bh")
    )
    keep = blocks.withColumn(
        "keep",
        F.expr(
            "CAST(doc_id * 1024 + blk = min(doc_id * 1024 + blk)"
            " OVER (PARTITION BY bh) AS BIGINT)"
        ),
    )
    kept_txt = (
        "array_join(transform(array_sort(collect_list(CASE WHEN keep = 1"
        " THEN struct(blk, btxt) END)), x -> x.btxt), ' ')"
    )
    return (
        keep.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_blocks"),
            F.expr("CAST(sum(1 - keep) AS BIGINT)").alias("n_dropped"),
            F.expr(md5int_spark(f"({kept_txt})")).alias("kept_md5i"),
        )
        .selectExpr(
            "doc_id", "n_blocks", "n_dropped",
            "(1000 * (n_blocks - n_dropped)) DIV n_blocks AS kept_pm",
            "kept_md5i",
        )
    )


def block_dedup_oracle(w: int = BLOCK_W) -> str:
    h = md5int_duck("btxt")
    hk = md5int_duck("coalesce(string_agg(CASE WHEN keep = 1 THEN btxt END,"
                     " ' ' ORDER BY blk), '')")
    return f"""
WITH bd_ws AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents),
bd_blocks AS (
  SELECT doc_id, i AS blk,
         array_to_string(ws[(i * {w} + 1):((i + 1) * {w})], ' ') AS btxt
  FROM bd_ws, range(0, 1024) t(i)
  WHERE len(ws) >= (i + 1) * {w}),
bd_keep AS (
  SELECT doc_id, blk, btxt,
         CAST(doc_id * 1024 + blk = min(doc_id * 1024 + blk)
           OVER (PARTITION BY {h}) AS BIGINT) AS keep
  FROM bd_blocks)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(1 - keep) AS BIGINT) AS n_dropped,
       CAST((1000 * (count(*) - sum(1 - keep))) // count(*) AS BIGINT)
         AS kept_pm,
       {hk} AS kept_md5i
FROM bd_keep GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# R189: Fellegi-Sunter record linkage (Fellegi & Sunter 1969) in EXACT
# ODDS form — the probabilistic entity-resolution scorer, with the
# usual log-weight sum replaced by an exact rational likelihood-ratio
# PRODUCT (per-mille numerators/denominators, ≤ 1000³ — far inside
# bigint), so no log ever runs and both engines replay bit-for-bit:
#   ratio = Π_f (g_f ? m_f : 1000−m_f) / (g_f ? u_f : 1000−u_f)
# The dirty replica B is a deterministic same-SQL mutation of A
# (lang 1/11, source 1/13, prefix 1/9, n_chars 1/17), candidates come
# from a (lang, token-band) blocking equi-join (never all-pairs; the
# 1/11 lang mutations fall out of the block — real blocking recall
# loss, counted as fn), m/u agreement rates are ESTIMATED FROM the
# candidate pairs themselves (truth = same doc_id), and pairs with
# odds ≥ 1000× are declared matches. Output is the one-row confusion
# envelope; all three error classes are populated at both gate scales
# (tp 402 / fp ≤ 2 / fn 98).
# Scale: blocking join + two in-stream aggregates; the m/u stats ride
# a broadcast one-row frame back onto the candidate stream.
# ---------------------------------------------------------------------------

FS_ODDS = 1000  # declare a match at >= 1000x odds


def _fs_sides_spark() -> tuple[str, str]:
    a = """
  SELECT doc_id AS ida, lang, source, n_chars, substr(text, 1, 16) AS pre,
         size(filter(split(text, ' '), x -> x <> '')) DIV 32 AS band
  FROM {d}"""
    tb = "CASE WHEN doc_id % 9 = 0 THEN 'xx ' || text ELSE text END"
    b = f"""
  SELECT doc_id AS idb,
         CASE WHEN doc_id % 11 = 0 THEN 'xx' ELSE lang END AS lang_b,
         CASE WHEN doc_id % 13 = 0 THEN 'srcX' ELSE source END AS source_b,
         n_chars + CASE WHEN doc_id % 17 = 0 THEN 37 ELSE 0 END
           AS n_chars_b,
         substr({tb}, 1, 16) AS pre_b,
         size(filter(split({tb}, ' '), x -> x <> '')) DIV 32 AS band_b
  FROM {{d}}"""
    return a, b


def fs_linkage(docs: DataFrame) -> DataFrame:
    """One-row confusion envelope (n_docs, n_cand, n_true_cand, tp, fp,
    fn, prec_pm, rec_pm) of Fellegi-Sunter linkage between the corpus
    and its deterministic dirty replica."""
    spark = docs.sparkSession
    a_sql, b_sql = _fs_sides_spark()
    a = spark.sql(a_sql, d=docs)
    b = spark.sql(b_sql, d=docs)
    cand = (
        a.join(
            b,
            (a["lang"] == b["lang_b"]) & (a["band"] == b["band_b"]),
        )
        .select(
            F.expr("CAST(source = source_b AS BIGINT)").alias("g_src"),
            F.expr("CAST(pre = pre_b AS BIGINT)").alias("g_pre"),
            F.expr("CAST(n_chars = n_chars_b AS BIGINT)").alias("g_len"),
            (a["ida"] == b["idb"]).cast("bigint").alias("is_m"),
        )
        .localCheckpoint(eager=False)
    )
    st = cand.groupBy().agg(
        F.expr("CAST(sum(is_m) AS BIGINT)").alias("nm"),
        F.expr("CAST(count(*) - sum(is_m) AS BIGINT)").alias("nu"),
        *[
            F.expr(e).alias(n)
            for fld in ("src", "pre", "len")
            for e, n in (
                (f"1000 * sum(g_{fld} * is_m) DIV sum(is_m)", f"m_{fld}"),
                (
                    f"1000 * sum(g_{fld} * (1 - is_m))"
                    f" DIV (count(*) - sum(is_m))",
                    f"u_{fld}",
                ),
            )
        ],
    )
    num = " * ".join(
        f"(CASE WHEN g_{f} = 1 THEN m_{f} ELSE 1000 - m_{f} END)"
        for f in ("src", "pre", "len")
    )
    den = " * ".join(
        f"(CASE WHEN g_{f} = 1 THEN greatest(u_{f}, 1)"
        f" ELSE greatest(1000 - u_{f}, 1) END)"
        for f in ("src", "pre", "len")
    )
    scored = cand.crossJoin(F.broadcast(st)).selectExpr(
        "is_m", "nm",
        f"CAST(({num}) >= {FS_ODDS} * ({den}) AS BIGINT) AS declared",
    )
    n_docs = docs.selectExpr("CAST(count(*) AS BIGINT) AS n_docs")
    return (
        scored.groupBy()
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_cand"),
            F.expr("CAST(sum(is_m) AS BIGINT)").alias("n_true_cand"),
            F.expr("CAST(sum(is_m * declared) AS BIGINT)").alias("tp"),
            F.expr("CAST(sum((1 - is_m) * declared) AS BIGINT)")
            .alias("fp"),
        )
        .crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "n_docs", "n_cand", "n_true_cand", "tp", "fp",
            "n_docs - tp AS fn",
            "(1000 * tp) DIV greatest(tp + fp, 1) AS prec_pm",
            "(1000 * tp) DIV n_docs AS rec_pm",
        )
    )


def fs_linkage_oracle() -> str:
    a_sql, b_sql = _fs_sides_spark()
    a = (
        a_sql.format(d="documents")
        .replace("size(filter(split(text, ' '), x -> x <> ''))",
                 "len(list_filter(string_split(text, ' '), x -> x <> ''))")
        .replace(" DIV ", " // ")
    )
    tb = "CASE WHEN doc_id % 9 = 0 THEN 'xx ' || text ELSE text END"
    b = (
        b_sql.format(d="documents")
        .replace(f"size(filter(split({tb}, ' '), x -> x <> ''))",
                 f"len(list_filter(string_split({tb}, ' '),"
                 " x -> x <> ''))")
        .replace(" DIV ", " // ")
    )
    num = " * ".join(
        f"(CASE WHEN g_{f} = 1 THEN m_{f} ELSE 1000 - m_{f} END)"
        for f in ("src", "pre", "len")
    )
    den = " * ".join(
        f"(CASE WHEN g_{f} = 1 THEN greatest(u_{f}, 1)"
        f" ELSE greatest(1000 - u_{f}, 1) END)"
        for f in ("src", "pre", "len")
    )
    mu = ",\n         ".join(
        f"1000 * sum(g_{f} * is_m) // sum(is_m) AS m_{f},\n"
        f"         1000 * sum(g_{f} * (1 - is_m))"
        f" // (count(*) - sum(is_m)) AS u_{f}"
        for f in ("src", "pre", "len")
    )
    return f"""
WITH fs_a AS ({a}),
fs_b AS ({b}),
fs_cand AS (
  SELECT CAST(a.source = b.source_b AS BIGINT) AS g_src,
         CAST(a.pre = b.pre_b AS BIGINT) AS g_pre,
         CAST(a.n_chars = b.n_chars_b AS BIGINT) AS g_len,
         CAST(a.ida = b.idb AS BIGINT) AS is_m
  FROM fs_a a JOIN fs_b b ON b.lang_b = a.lang AND b.band_b = a.band),
fs_st AS (
  SELECT CAST(sum(is_m) AS BIGINT) AS nm,
         CAST(count(*) - sum(is_m) AS BIGINT) AS nu,
         {mu}
  FROM fs_cand),
fs_sc AS (
  SELECT c.is_m,
         CAST(({num}) >= {FS_ODDS} * ({den}) AS BIGINT) AS declared
  FROM fs_cand c CROSS JOIN fs_st),
fs_nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT d.n_docs,
       CAST(count(*) AS BIGINT) AS n_cand,
       CAST(sum(is_m) AS BIGINT) AS n_true_cand,
       CAST(sum(is_m * declared) AS BIGINT) AS tp,
       CAST(sum((1 - is_m) * declared) AS BIGINT) AS fp,
       d.n_docs - CAST(sum(is_m * declared) AS BIGINT) AS fn,
       (1000 * CAST(sum(is_m * declared) AS BIGINT))
         // greatest(CAST(sum(is_m * declared) AS BIGINT)
                     + CAST(sum((1 - is_m) * declared) AS BIGINT), 1)
         AS prec_pm,
       (1000 * CAST(sum(is_m * declared) AS BIGINT)) // d.n_docs AS rec_pm
FROM fs_sc CROSS JOIN fs_nd d
GROUP BY d.n_docs"""


# ---------------------------------------------------------------------------
# R199: containment pairs (Broder 1997's containment coefficient) — the
# ASYMMETRIC near-dup relation the symmetric tiers can't express:
# c(A→B) = |blocks(A) ∩ blocks(B)| / |blocks(A)| finds documents
# largely CONTAINED in another (quotes, partial copies, supersets) even
# when Jaccard is low because |B| >> |A|. Reuses the R187 aligned
# 16-token block vocabulary: candidates from the block-hash inverted
# index (df-capped — a ubiquitous block carries no containment signal
# and would quadratically blow the bucket join), intersections
# aggregated IN-STREAM, sizes joined by key. Both directions of every
# candidate pair are scored; pairs at ≥ 1/4 containment are reported.
# ---------------------------------------------------------------------------

CONT_MAX_DF = 20
CONT_MIN_PM = 250


def containment_pairs(docs: DataFrame, w: int = BLOCK_W) -> DataFrame:
    """(doc_a, doc_b, n_blocks_a, inter, containment_pm): ordered doc
    pairs where ≥ CONT_MIN_PM of doc_a's blocks also appear in doc_b."""
    h = md5int_spark("btxt")
    blocks = (
        docs.selectExpr(
            "doc_id",
            "filter(split(text, ' '), x -> x <> '') AS ws",
        )
        .where(F.expr(f"size(ws) >= {w}"))
        .selectExpr(
            "doc_id",
            f"explode(sequence(0, size(ws) DIV {w} - 1)) AS blk",
            "ws",
        )
        .selectExpr(
            "doc_id",
            f"{h.replace('btxt', f'array_join(slice(ws, blk * {w} + 1, {w}), chr(32))')}"
            " AS bh",
        )
        .dropDuplicates(["doc_id", "bh"])
        .localCheckpoint(eager=False)
    )
    sizes = blocks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("nb")
    )
    rare = (
        blocks.groupBy("bh")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= CONT_MAX_DF)
        .select("bh")
    )
    a = blocks.selectExpr("doc_id AS doc_a", "bh")
    b = blocks.selectExpr("doc_id AS doc_b", "bh")
    inter = (
        a.join(rare, "bh")
        .join(b, "bh")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .selectExpr(
            "doc_a", "doc_b", "nb AS n_blocks_a", "inter",
            "(1000 * inter) DIV nb AS containment_pm",
        )
        .where(F.col("containment_pm") >= CONT_MIN_PM)
    )


def containment_oracle(w: int = BLOCK_W) -> str:
    h = md5int_duck("btxt")
    return f"""
WITH cp_blocks AS (
  SELECT DISTINCT doc_id, {h.replace('btxt',
      f"array_to_string(ws[(i * {w} + 1):((i + 1) * {w})], ' ')")} AS bh
  FROM (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents),
       range(0, 1024) t(i)
  WHERE len(ws) >= (i + 1) * {w}),
cp_sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS nb
  FROM cp_blocks GROUP BY 1),
cp_rare AS (
  SELECT bh FROM cp_blocks GROUP BY bh
  HAVING count(*) <= {CONT_MAX_DF}),
cp_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM cp_blocks a JOIN cp_rare r ON r.bh = a.bh
  JOIN cp_blocks b ON b.bh = a.bh AND b.doc_id <> a.doc_id
  GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b, s.nb AS n_blocks_a, i.inter,
       (1000 * i.inter) // s.nb AS containment_pm
FROM cp_inter i JOIN cp_sizes s ON s.doc_id = i.doc_a
WHERE (1000 * i.inter) // s.nb >= {CONT_MIN_PM}"""
