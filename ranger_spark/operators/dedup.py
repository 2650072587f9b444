"""Deduplication operators for 100 TB training-data pipelines.

Four families, all shuffle-bounded and collect-free:

- **Exact**: group by a 128-bit text fingerprint (md5 of normalized text) —
  the shuffle carries 16-byte digests, never the documents.
- **MinHash + LSH**: shingle → k minhashes → b bands of r rows →
  candidate pairs only where a band collides (textbook Broder/LSH). The
  band join is the only shuffle whose size depends on similarity structure;
  banding bounds it, and exact-Jaccard verification runs only on candidates.
- **SimHash**: 32-bit signature via per-bit token votes; near-dup = small
  Hamming distance. Signature computation is a single groupBy with 32
  conditional sums (no per-bit explode).
- **Embedding near-dup**: cosine over an embedding column, blocked by a
  coarse key (label/IVF cell) so the pair join is block-diagonal, not n².

Everything is md5-based so each operator has an exact DuckDB oracle
(engine-native hashes like xxhash64 differ across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ranger_spark.tables import as_view
from ranger_spark.operators.text import (
    fingerprint,
    hash64,
    normalize_text,
    tokenize,
    word_shingles,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: the keeper (min id) + group
    size. At scale: one shuffle keyed on the digest; map-side combine makes
    the shuffle O(distinct docs). Single-parse spark.sql (r14, guide
    §7.3); optimized plan identical to the chained form. Column names are
    backtick-quoted so non-plain identifiers (spaces, dots, reserved
    words) parse exactly as the old F.col() forms did (ADVICE r14)."""
    idq, txq = f"`{id_col}`", f"`{text_col}`"
    return df.sparkSession.sql(
        f"""
        SELECT text_hash, min({idq}) AS keeper_id,
               count(1) AS dup_count
        FROM (SELECT {idq},
                     md5(trim(regexp_replace(lower({txq}),
                          '[^a-z0-9]+', ' '))) AS text_hash
              FROM {as_view(df)})
        GROUP BY text_hash
        """
    )


def exact_dedup_keep(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Filter to the kept row per duplicate group (min id wins)."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Affine minhash family over a 32-bit md5 base hash: h_i = (a_i*h + b_i) % P.
# One md5 per shingle (not per shingle × per hash); a_i < 2^31 and h < 2^32
# keep a_i*h inside signed-64 range. Constants are fixed (seeded once) so
# Spark and the SQL oracle compute identical signatures.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _affine_params(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(42)
    return [
        (rng.randrange(1, 2**31 - 1), rng.randrange(0, 2**32))
        for _ in range(num_hashes)
    ]


# SQL-string twin of base_hash32 for the single-parse spark.sql builders
# (r14): {c} is the input column/expression. Tests that need a colliding
# hash monkeypatch THIS template (the Column function below is not on the
# sql-built path).
BASE_HASH32_SQL = "cast(conv(substring(md5({c}), 1, 8), 16, 10) as bigint)"


def base_hash32(col: Column) -> Column:
    """32-bit base hash: first 8 hex chars of md5 (cross-engine stable)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def shingle_df(
    df: DataFrame, id_col: str, text_col: str, k: int = 2
) -> DataFrame:
    """(id, sh_hash) pairs — distinct k-word shingles of normalized text,
    carried as 32-bit hashes so every downstream join/shuffle moves 8-byte
    longs instead of shingle strings.

    The token array is materialized as its own projection BEFORE the
    shingle transform: Catalyst does not common-subexpression-eliminate
    through higher-order-function lambdas, so inlining tokenize() there
    would re-run the regex pipeline for every element_at() (measured 10×
    slowdown). The repartition spreads the explode across cores when the
    source is a single small file; on a real partitioned table it is a
    cheap pre-explode rebalance of raw text."""
    toks = df.select(
        F.col(id_col),
        tokenize(normalize_text(F.col(text_col))).alias("__toks"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    return toks.select(
        F.col(id_col),
        F.explode(word_shingles(F.col("__toks"), k)).alias("shingle"),
    ).select(id_col, base_hash32(F.col("shingle")).alias("sh_hash"))


def lsh_bands(
    sig: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 8
) -> DataFrame:
    """(id, band, band_key): md5 of each band's concatenated minhashes.
    rows-per-band r = num_hashes // bands; collision prob ≈ jaccard^r."""
    r = num_hashes // bands
    rows = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * r + j}") for j in range(r)]
        rows.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("band_key"),
            )
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*rows)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 2,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    collapse_exact: bool = True,
    jaccard_on_hash_sets: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: exact-collapse → shingle → minhash → LSH
    bands → candidate pairs → exact-Jaccard verify → pairs ≥ threshold.

    ``jaccard_on_hash_sets`` (r14, ADVICE r13 #3) computes the verify
    set sizes from the distinct 32-bit HASH set instead of the distinct
    shingle-string count. The two differ only when two distinct
    shingles of one doc collide in base_hash32 (~C(n_shingles,2)/2³²
    per doc — grows with corpus size), but the identity operating point
    (threshold 1.0) must use the hash-set definition: the fingerprint
    column, the streaming dedup key, and the cascade/WARC oracles all
    collapse on the hash SET, and a string-count denominator would push
    a set-identical pair's Jaccard below 1.0 exactly when such a
    collision occurs. Sub-1.0 callers keep the certified string-count
    definition (their oracles count the same string-distinct rows).

    ``collapse_exact`` runs exact dedup FIRST and minhashes only one
    representative (min id) per distinct normalized text. This is the
    standard production ordering and the LSH skew guard: exact-duplicate
    groups otherwise all land in the same band buckets and the candidate
    self-join goes quadratic in the group size (measured: 16× exact
    replication at sf0.1 → 313 s without collapse, seconds with). Output
    pairs are between representatives.

    The pipeline is shuffle-fused: text is normalized ONCE (the exact
    collapse groups directly on the normalized text and keeps it via
    first(), all group members being byte-identical — no join-back, no
    second regex pass), and ONE groupBy(id) over the exploded shingles
    computes the minhash signature, the shingle-hash array, and the set
    size together (signatures and the verify arrays previously each
    re-shuffled the shingle table). Per-doc state feeds the band self-join
    and both sides of the verify join, so it is persisted (memory-and-disk:
    at 100 TB this is the intermediate you would materialize to a scratch
    table anyway). Total shuffles: collapse, per-doc agg, band join,
    pair-distinct, two id-keyed verify joins — each keyed on either a
    128-bit digest or the doc id, never on raw text."""
    from pyspark import StorageLevel

    spark = df.sparkSession
    in_v = as_view(df)
    # backtick-quoted forms for SQL interpolation (ADVICE r14): a column
    # name with spaces/dots/reserved words parses exactly as F.col() did
    idq, txq = f"`{id_col}`", f"`{text_col}`"
    params = _affine_params(num_hashes)
    # Two single-parse spark.sql segments instead of ~20 chained
    # DataFrame ops (r14, guide §7.3): each Dataset-returning op pays a
    # py4j round-trip plus an eager re-analysis of the growing plan —
    # measured 354 ms of driver-side build time per invocation for this
    # builder, the largest single chunk of the heaviest headline query.
    # The optimized plan is byte-identical (verified, plans/r14); all
    # expression trees below mirror the old Column forms exactly
    # (element_at(__toks, i + 0), D-suffixed double literals, the
    # count(1)/size() denominators).
    if collapse_exact:
        # Group on __norm ITSELF, not md5(__norm)+first(__norm): the
        # first(string) buffer is var-length, which disqualifies
        # HashAggregate and forces SortAggregate — two full sorts of the
        # document text around the collapse exchange. Keying on the text
        # keeps a primitive min() buffer (HashAggregate, no sorts) and
        # shuffles the same bytes: the text traveled either way (as the
        # first() buffer before, as the key now), minus the 16-byte
        # digest. Groups are identical (md5 is injective on these keys
        # modulo collisions, which would have been a silent bug anyway).
        base_sql = f"""
          SELECT __norm, min({idq}) AS {idq}
          FROM (SELECT {idq},
                       trim(regexp_replace(lower({txq}),
                            '[^a-z0-9]+', ' ')) AS __norm
                FROM {in_v})
          GROUP BY __norm
        """
    else:
        # no collapse shuffle to spread the rows — rebalance before the
        # explode so a single-file source doesn't serialize shingling
        np = df.sparkSession.sparkContext.defaultParallelism
        base_sql = f"""
          SELECT /*+ REPARTITION({np}, {idq}) */ {idq},
                 trim(regexp_replace(lower({txq}),
                      '[^a-z0-9]+', ' ')) AS __norm
          FROM {in_v}
        """
    shingle_terms = ", ".join(
        f"element_at(__toks, i + {j})" for j in range(shingle_k)
    )
    mins = ",\n                 ".join(
        f"min(({a} * sh_hash + {b}) % {MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(params)
    )
    hash_sql = BASE_HASH32_SQL.format(c="shingle")
    doc = spark.sql(
        f"""
        SELECT {idq}, collect_list(sh_hash) AS __shs,
               count(1) AS n_sh,
               {mins}
        FROM (
          SELECT {idq},
                 {hash_sql} AS sh_hash
          FROM (
            SELECT {idq},
                   explode(array_distinct(transform(
                     sequence(1, greatest(1, size(__toks) - {shingle_k - 1})),
                     i -> concat_ws(' ', {shingle_terms})))) AS shingle
            FROM (
              SELECT {idq}, split(trim(__norm), '\\\\s+') AS __toks
              FROM ({base_sql})
            )
          )
        )
        GROUP BY {idq}
        """
    ).persist(StorageLevel.MEMORY_AND_DISK)
    doc_v = as_view(doc)
    r = num_hashes // bands
    band_structs = ",\n                   ".join(
        "struct({b} AS band, md5(concat_ws(',', {cols})) AS band_key)".format(
            b=b, cols=", ".join(f"mh_{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    if jaccard_on_hash_sets:
        n_a, n_b = "size(array_distinct(__shs_a))", "size(array_distinct(__shs_b))"
    else:
        n_a, n_b = "n_a", "n_b"
    return spark.sql(
        f"""
        WITH bands AS (
          SELECT {idq}, bk.band AS band, bk.band_key AS band_key
          FROM (SELECT {idq},
                       explode(array({band_structs})) AS bk
                FROM {doc_v})
        ),
        cand AS (
          SELECT DISTINCT id_a, id_b FROM (
            SELECT id_a, id_b
            FROM (SELECT {idq} AS id_a, band, band_key FROM bands) a
            JOIN (SELECT {idq} AS id_b, band, band_key FROM bands) b
              ON a.band = b.band AND a.band_key = b.band_key
            WHERE id_a < id_b
          )
        )
        SELECT * FROM (
          SELECT id_a, id_b,
                 size(array_intersect(__shs_a, __shs_b))
                   / cast({n_a} + {n_b}
                          - size(array_intersect(__shs_a, __shs_b))
                     as double) AS jaccard
          FROM cand
          JOIN (SELECT {idq} AS id_a, __shs AS __shs_a, n_sh AS n_a
                FROM {doc_v}) USING (id_a)
          JOIN (SELECT {idq} AS id_b, __shs AS __shs_b, n_sh AS n_b
                FROM {doc_v}) USING (id_b)
        )
        WHERE round(jaccard, 6) >= {threshold}D
        """
    )


def shingle_set_hashes(text_col: Column, k: int = 2) -> Column:
    """Sorted distinct k-word shingle-hash array of a text column as a
    PURE map-only expression (normalize → tokenize → shingle →
    base_hash32 → distinct → sort) — no shuffle, no Python."""
    toks = tokenize(normalize_text(text_col))
    return F.array_sort(
        F.array_distinct(
            F.transform(word_shingles(toks, k), base_hash32)
        )
    )


def shingle_set_fingerprint(text_col: Column, k: int = 2) -> Column:
    """128-bit fingerprint of the distinct k-word shingle SET — the
    map-only key for the shingle-set IDENTITY dedup class (reorderings,
    repetitions, re-paginations of the same content; Jaccard exactly
    1.0). Two texts share the fingerprint iff they share the hash set,
    so a plain groupBy/dropDuplicates on this column performs the same
    collapse :func:`lsh_neardup_groups` discovers via the LSH
    machinery (which the cascade keeps under the oracle gate as the
    production candidate path); this expression is the zero-shuffle
    fast path for the known class, and — being a single stateless
    column — the key a STREAMING ingest dedups on
    (queries/streaming_q.stream_neardup_fingerprint). Cross-engine
    deterministic: md5 over the comma-joined ascending hash list,
    identical in DuckDB as md5(string_agg(h, ',' ORDER BY h))."""
    return F.md5(
        F.concat_ws(
            ",",
            F.transform(
                shingle_set_hashes(text_col, k),
                lambda x: x.cast("string"),
            ),
        )
    )


def lsh_neardup_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 2,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Group table (keeper_id, dup_count) for the shingle-set IDENTITY
    class — documents whose distinct k-word shingle sets are equal
    (Jaccard exactly 1.0: reorderings, repetitions, re-paginations of
    the same content) — discovered via the PRODUCTION LSH path:
    minhash → bands → candidate pairs → exact-Jaccard verify.

    Threshold 1.0 is the one operating point with two structural
    guarantees that make this a single-pass group assignment:

    * candidacy is COMPLETE, not probabilistic — identical shingle-hash
      sets give identical minhash signatures, so every band collides
      and no true pair can be missed by the banding;
    * the verified relation is an EQUIVALENCE (set equality is
      transitive), so each member's verified neighbors are exactly its
      whole group and keeper = min(own id, min neighbor id) needs no
      iterative connected components.

    Sub-1.0 thresholds (true fuzzy near-dup) are served by
    :func:`minhash_lsh_dedup` + the recall harness
    (queries/pipeline.py dedup_minhash_recall_eval).

    Scale shape: identical to :func:`minhash_lsh_dedup` (digest/band
    shuffles only) plus one id-keyed aggregation of the pair list and
    one left join back to the id column — all keyed on 8-byte ids.
    """
    pairs = minhash_lsh_dedup(
        df,
        id_col,
        text_col,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        bands=bands,
        threshold=1.0,
        collapse_exact=False,
        # identity test on the hash SET (r14, ADVICE r13 #3): the
        # fingerprint / streaming key / oracles all collapse on the
        # distinct hash set, so the verify denominator must too — a
        # string-count denominator drops a set-identical pair below
        # 1.0 whenever two distinct shingles of one doc collide in
        # base_hash32.
        jaccard_on_hash_sets=True,
        # minhash_lsh_dedup's threshold gate is round(j, 6) >= t, which
        # at t=1.0 would admit j >= 0.9999995 — possible for documents
        # with >= 2M distinct shingles differing in one — and such pairs
        # are neither complete under banding nor transitive, voiding
        # both guarantees above. Pin the IDENTITY class exactly: n_a =
        # n_b = n_inter (hash-set sizes) makes the quotient exactly 1.0
        # (r13 review finding).
    ).filter(F.col("jaccard") == F.lit(1.0))
    sym = pairs.select(
        F.col("id_a").alias("__id"), F.col("id_b").alias("__nb")
    ).unionAll(
        pairs.select(F.col("id_b").alias("__id"), F.col("id_a").alias("__nb"))
    )
    keeper = sym.groupBy("__id").agg(F.min("__nb").alias("__mn"))
    mem = (
        df.select(F.col(id_col))
        .join(keeper, F.col(id_col) == F.col("__id"), "left")
        .select(
            F.col(id_col),
            F.least(
                F.col(id_col), F.coalesce(F.col("__mn"), F.col(id_col))
            ).alias("keeper_id"),
        )
    )
    return mem.groupBy("keeper_id").agg(
        F.count(F.lit(1)).alias("dup_count")
    )


# ---------------------------------------------------------------------------
# Incremental MinHash dedup over snapshots (the 100 TB ingest pattern)
# ---------------------------------------------------------------------------


def build_minhash_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 2,
    num_hashes: int = 16,
    bands: int = 8,
) -> dict[str, DataFrame]:
    """One-time signature store for incremental dedup — the three tables a
    production deployment persists alongside the corpus so each ingest
    batch is deduped touching only O(delta):

    - ``fingerprints``: (fp) distinct md5 of normalized text — exact-dup
      membership test for new docs (16 B/doc).
    - ``doc_shingles``: (id, __shs array, n_sh) per exact-dedup
      representative — the Jaccard-verify side table (id-keyed).
    - ``bands``: (id, band, band_key) LSH index — at scale, written
      bucketed by band_key so delta probes are shuffle-free on the
      stored side.

    Maintained incrementally: after each batch, append the batch's rows
    to all three (the same frames incremental_minhash_dedup computes).

    ≈ the streaming half of the reference's Astha CDC fan-out
    (server/astha/README.md): registry change → subscriber updates a
    derived structure; here snapshot-diff → signature-store append."""
    base = df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__norm")
    )
    # ONE collapse aggregation serves both outputs (was two separate
    # groupBys over the same base — two shuffles of the same rows), and
    # it groups on __norm itself so the min() buffer stays primitive
    # (HashAggregate; the md5+first(__norm) form fell back to
    # SortAggregate — see minhash_lsh_dedup). fp is derived map-side
    # AFTER the aggregation; (fp, keeper) rides along so an ingest batch
    # can report an arriving exact copy against its stored keeper.
    groups = base.groupBy("__norm").agg(F.min(id_col).alias(id_col))
    fps = groups.select(
        F.md5("__norm").alias("fp"), F.col(id_col).alias("keeper_id")
    )
    reps = groups
    sh = (
        reps.select(F.col(id_col), tokenize(F.col("__norm")).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col("__toks"), shingle_k)).alias("shingle"),
        )
        .select(id_col, base_hash32(F.col("shingle")).alias("sh_hash"))
    )
    params = _affine_params(num_hashes)
    doc = sh.groupBy(id_col).agg(
        F.collect_list("sh_hash").alias("__shs"),
        F.count(F.lit(1)).alias("n_sh"),
        *[
            F.min(
                (F.lit(a) * F.col("sh_hash") + F.lit(b)) % F.lit(MINHASH_PRIME)
            ).alias(f"mh_{i}")
            for i, (a, b) in enumerate(params)
        ],
    )
    return {
        "fingerprints": fps,
        "doc_shingles": doc.select(id_col, "__shs", "n_sh"),
        "bands": lsh_bands(doc, id_col, num_hashes, bands),
    }


def incremental_minhash_dedup(
    store: dict[str, DataFrame],
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 2,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs introduced by an ingest DELTA, computed against the
    persisted signature store WITHOUT re-signing the corpus — the actual
    100 TB ingest pattern (full-corpus re-dedup per batch is O(corpus);
    this is O(delta) + delta-driven probes of three id/key-indexed
    tables).

    Stages: (1) exact-collapse the delta; groups whose fingerprint
    already exists in the corpus are reported as jaccard-1.0 pairs
    against the stored keeper (exact dups, caught without shingling) and
    excluded from signing; (2) shingle + minhash ONLY the surviving delta reps;
    (3) probe the delta's band keys against stored ∪ delta bands — pairs
    where both sides are old never form, matching "report only what the
    batch introduces"; (4) exact-Jaccard verify against the stored
    per-doc shingle arrays ∪ the delta's. Output (id_a < id_b, jaccard ≥
    threshold) — the same contract as minhash_lsh_dedup restricted to
    pairs involving ≥1 new doc.

    Every shuffle is delta-sized except the band probe's stored side,
    which a bucketed-by-band_key store keeps exchange-free."""
    new_base = new_df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__norm")
    )
    # norm-keyed collapse (HashAggregate — the md5-keyed first(__norm)
    # form paid a SortAggregate; see minhash_lsh_dedup), fp derived
    # map-side after the aggregation for the store probe below
    new_groups = (
        new_base.groupBy("__norm")
        .agg(F.min(id_col).alias(id_col))
        .select(F.md5("__norm").alias("fp"), F.col(id_col), F.col("__norm"))
    )
    # a batch doc whose exact text already exists in the corpus IS a
    # duplicate the caller must see: report it as a jaccard-1.0 pair
    # against the stored keeper (no shingling needed)
    exact_pairs = (
        new_groups.join(store["fingerprints"], "fp")
        .select(
            F.least(F.col(id_col), F.col("keeper_id")).alias("id_a"),
            F.greatest(F.col(id_col), F.col("keeper_id")).alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    new_reps = new_groups.join(store["fingerprints"], "fp", "left_anti")
    sh_new = (
        new_reps.select(F.col(id_col), tokenize(F.col("__norm")).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col("__toks"), shingle_k)).alias("shingle"),
        )
        .select(id_col, base_hash32(F.col("shingle")).alias("sh_hash"))
    )
    params = _affine_params(num_hashes)
    doc_new = sh_new.groupBy(id_col).agg(
        F.collect_list("sh_hash").alias("__shs"),
        F.count(F.lit(1)).alias("n_sh"),
        *[
            F.min(
                (F.lit(a) * F.col("sh_hash") + F.lit(b)) % F.lit(MINHASH_PRIME)
            ).alias(f"mh_{i}")
            for i, (a, b) in enumerate(params)
        ],
    )
    from pyspark import StorageLevel

    doc_new = doc_new.persist(StorageLevel.MEMORY_AND_DISK)
    bnd_new = lsh_bands(doc_new, id_col, num_hashes, bands)
    all_bnd = store["bands"].unionByName(bnd_new)
    cands = (
        bnd_new.select(F.col(id_col).alias("__id_n"), "band", "band_key")
        .join(all_bnd, ["band", "band_key"])
        .filter(F.col("__id_n") != F.col(id_col))
        .select(
            F.least("__id_n", id_col).alias("id_a"),
            F.greatest("__id_n", id_col).alias("id_b"),
        )
        .distinct()
    )
    doc_all = store["doc_shingles"].unionByName(
        doc_new.select(id_col, "__shs", "n_sh")
    )
    a = doc_all.select(
        F.col(id_col).alias("id_a"),
        F.col("__shs").alias("__shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = doc_all.select(
        F.col(id_col).alias("id_b"),
        F.col("__shs").alias("__shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("__shs_a", "__shs_b"))
                / (
                    F.col("n_a")
                    + F.col("n_b")
                    - F.size(F.array_intersect("__shs_a", "__shs_b"))
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return verified.filter(
        F.round(F.col("jaccard"), 6) >= threshold
    ).unionByName(exact_pairs)


def ngram_jaccard_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_k: int = 2,
    threshold: float = 0.05,
) -> DataFrame:
    """Exact n-gram Jaccard between all document pairs sharing a blocking
    key: inverted-index join on (block, shingle-hash) so cost is
    Σ_shingle df² *within blocks*, never all-pairs. The scale path for
    unblocked corpora is the MinHash-LSH pipeline (candidates there are
    similarity-bounded); this operator is the exact, block-scoped variant.
    """
    sh = shingle_df(df, id_col, text_col, shingle_k).join(
        df.select(id_col, *block_cols), id_col
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), *block_cols, "sh_hash"
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), *block_cols, "sh_hash"
    )
    inter = (
        a.join(b, [*block_cols, "sh_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_cross(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    block_cols: list[str],
    shingle_k: int = 2,
    threshold: float = 0.5,
    max_doc_freq: int = 20,
) -> DataFrame:
    """Cross-group containment: for document pairs from DIFFERENT
    ``group_col`` values (e.g. crawl sources) sharing a blocking key,
    score |A∩B| / min(|A|,|B|) over distinct k-word shingles — the
    "is this doc a copy/subset of something in another source" measure
    (containment, not Jaccard, so a short doc embedded in a long one
    still scores 1.0).

    Scale levers, both essential at 100 TB: (a) the inverted-index join
    is on (block, shingle-hash) so cost is Σ_shingle df² within blocks,
    never all-pairs; (b) shingles occurring in more than
    ``max_doc_freq`` documents are dropped BEFORE the pair join — a
    stopword-gram cap that bounds each posting list, making the worst
    per-shingle pair fan-out max_doc_freq², and sharpens the evidence
    to rare grams (standard for containment detection). The doc-freq
    table itself is a map-side-combinable count on 8-byte hashes."""
    sh_all = shingle_df(df, id_col, text_col, shingle_k).join(
        df.select(id_col, group_col, *block_cols), id_col
    )
    doc_freq = sh_all.groupBy("sh_hash").agg(
        F.countDistinct(id_col).alias("__df")
    )
    sh = sh_all.join(
        doc_freq.filter(F.col("__df") <= max_doc_freq).select("sh_hash"),
        "sh_hash",
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col(group_col).alias("__ga"),
        *block_cols, "sh_hash",
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col(group_col).alias("__gb"),
        *block_cols, "sh_hash",
    )
    inter = (
        a.join(b, [*block_cols, "sh_hash"])
        .filter(
            (F.col("id_a") < F.col("id_b")) & (F.col("__ga") != F.col("__gb"))
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / F.least("n_a", "n_b").cast("double"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """Per-doc SimHash: bit j of the signature is the sign of the sum over
    distinct tokens of ±1 according to bit j of the token hash. One explode
    over tokens, then `bits` conditional sums in a single groupBy."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(tokenize(normalize_text(F.col(text_col))))
        ).alias("tok"),
    ).withColumn("h", hash64(F.col("tok")))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v_{j}")
            for j in range(bits)
        ]
    )
    sig = sum(
        [
            F.when(F.col(f"v_{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
            for j in range(bits)
        ],
        start=F.lit(0),
    )
    return votes.select(F.col(id_col), sig.cast("long").alias("simhash"))


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_cosine_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.35,
) -> DataFrame:
    """Collapse embedding near-duplicates: a row is removed when a lower-id
    row in the same block has cosine similarity >= threshold; survivors are
    returned with the count of higher-id near-dups they dominate.

    The pair join is keyed on ``block_col`` so cost is Σ block² rather than
    n² — at 100 TB the block key is an LSH bucket (``hyperplane_buckets``)
    or IVF cell instead of a label, and the same plan shape applies.
    Norms are computed once per side before the join (HOF expressions are
    not CSE'd across filters), and the pair set is a 2×bigint shuffle.
    """
    from ranger_spark.operators.similarity import _as_double, dot, l2_norm

    base = df.select(
        F.col(id_col), F.col(block_col), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("n", l2_norm(F.col("v")))
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col(block_col).alias("blk"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col(block_col).alias("blk"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    pairs = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    dominated = pairs.select(F.col("id_b").alias(id_col)).distinct()
    counts = pairs.groupBy(F.col("id_a").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_dups")
    )
    return (
        df.select(id_col, block_col)
        .join(dominated, id_col, "left_anti")
        .join(counts, id_col, "left")
        .fillna(0, subset=["n_dups"])
    )


def hyperplane_buckets(
    vec_col: str = "embedding",
    bits: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> Column:
    """Random-hyperplane LSH bucket id for the unblocked scale path: bit j
    is the sign of <v, h_j> for a deterministic ±1 hyperplane derived from
    md5(seed, j, index) — collision probability 1 - theta/pi per bit (sign
    LSH). Used as the block key when no natural shard column exists; band
    over several bucket columns (different seeds) for recall, exactly like
    the MinHash banding above."""
    v = F.col(vec_col)
    size = F.lit(dim) if dim is not None else F.size(v)
    buckets = F.lit(0).cast("long")
    for j in range(bits):
        # deterministic ±1 hyperplane component per (seed, bit, position)
        proj = F.aggregate(
            F.zip_with(
                v,
                F.transform(
                    F.sequence(F.lit(0), size - 1),
                    lambda i: F.when(
                        F.conv(
                            F.substring(
                                F.md5(F.concat_ws(":", F.lit(seed), F.lit(j), i)),
                                1,
                                15,
                            ),
                            16,
                            10,
                        )
                        .cast("long")
                        .bitwiseAND(1)
                        == 1,
                        F.lit(1.0),
                    ).otherwise(F.lit(-1.0)),
                ),
                lambda x, h: x.cast("double") * h,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        buckets = buckets + F.when(proj > 0, F.lit(2**j)).otherwise(F.lit(0))
    return buckets


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Cluster assignment over a near-dup pair graph: min-label
    propagation to a fixpoint, returning (id, cluster_rep) where the
    representative is the component's minimum id — the step after
    pairwise dedup that picks ONE survivor per duplicate CLUSTER
    (pairwise keep-rules break on transitive chains a~b~c).

    Each iteration is one join + one aggregate, fully distributed;
    the driver only checks the converged count (iteration-bounded
    control flow, same shape as kmeans_fit). Converges in O(component
    diameter) rounds — near-dup clusters are shallow (dups of a common
    source), so single digits in practice. At petabyte edge counts the
    same loop is the textbook Spark CC; the large-star/small-star
    variant halves rounds if diameters ever grow. ``localCheckpoint``
    truncates the lineage each round (an iterative plan would otherwise
    grow exponentially)."""
    edges = pairs.select(id_a, id_b).union(
        pairs.select(F.col(id_b).alias(id_a), F.col(id_a).alias(id_b))
    )
    labels = (
        edges.select(F.col(id_a).alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges[id_b] == labels["id"])
            .groupBy(F.col(id_a).alias("id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        new = labels.join(nbr, "id", "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce("nbr_min", F.col("label"))
            ).alias("label"),
        )
        new = new.localCheckpoint(eager=True)
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if not changed:
            break
    return labels.select(F.col("id"), F.col("label").alias("cluster_rep"))


# ---------------------------------------------------------------------------
# Broadcast-Bloom prefilter (incremental exact dedup without a corpus shuffle)
# ---------------------------------------------------------------------------
# The 100 TB incremental-arrival shape: the seen-corpus is huge, the new
# batch is small. A classic anti-join shuffles BOTH sides on the digest;
# here the corpus is folded once into an m-bit Bloom bitmap (one map pass,
# one m/8-byte blob per partition OR-ed on the driver), the bitmap is
# broadcast, and the batch is split map-side into definite-new rows (bloom
# says absent — no false negatives) and maybe-seen rows. Only the tiny
# maybe set (true dups + false positives, ~|batch|·fp_rate) drives the
# exact confirm: it is broadcast against a map-only corpus scan, so the
# whole operator runs with ZERO shuffles. Bloom false positives affect
# routing only — the output is exactly the anti-join, which is what the
# DuckDB oracle checks. In production the bitmap is built once and
# persisted beside the corpus snapshot, amortized over every batch.

_BLOOM_BITS_LOG2 = 20  # 1 Mi bits = 128 KiB bitmap
_BLOOM_K = 5
_MAYBE_CAP = 100_000  # above this the bloom isn't selective; fall back


def _bloom_indexes(h1, h2, m_mask):
    """k double-hashed bit indexes from two 64-bit hash columns (numpy,
    vectorized): idx_i = (h1 + i*h2) & (m-1)."""
    import numpy as np

    a = h1.astype(np.uint64)
    b = h2.astype(np.uint64)
    return [
        ((a + np.uint64(i) * b) & np.uint64(m_mask)) for i in range(_BLOOM_K)
    ]


def _hash_cols(text_col: Column) -> tuple[Column, Column]:
    """Two independent 64-bit hashes of the normalized text (JVM-side
    xxhash64; the second is salted). These drive bloom routing only —
    exact confirmation uses the md5 fingerprint."""
    norm = normalize_text(text_col)
    return F.xxhash64(norm), F.xxhash64(norm, F.lit("bloom2"))


def build_fingerprint_bloom(df: DataFrame, text_col: str = "text") -> bytes:
    """Fold a corpus into an m-bit Bloom bitmap: one map pass emits a
    bitmap per partition, the driver ORs them (bitmaps are tiny and
    associative — the classic mergeable-sketch build)."""
    import numpy as np
    import pandas as pd

    m = 1 << _BLOOM_BITS_LOG2
    m_mask = m - 1
    h1, h2 = _hash_cols(F.col(text_col))
    hashed = df.select(h1.alias("h1"), h2.alias("h2"))

    def fold(batches):
        bits = np.zeros(m // 8, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            for idx in _bloom_indexes(
                pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), m_mask
            ):
                np.bitwise_or.at(
                    bits, (idx >> np.uint64(3)).astype(np.int64),
                    np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8),
                )
        if seen:
            yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    parts = hashed.mapInPandas(fold, "bitmap binary").collect()
    out = np.zeros(m // 8, dtype=np.uint8)
    for row in parts:
        out |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return out.tobytes()


def bloom_prefilter_new(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rows of ``batch`` whose normalized text does NOT occur in ``corpus``
    (exact semantics — equals the anti-join), computed shuffle-free via a
    broadcast Bloom prefilter + broadcast exact confirm."""
    import numpy as np

    spark = batch.sparkSession
    m_mask = (1 << _BLOOM_BITS_LOG2) - 1
    bitmap = spark.sparkContext.broadcast(
        build_fingerprint_bloom(corpus, text_col)
    )

    h1, h2 = _hash_cols(F.col(text_col))
    tagged = batch.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fp"),
        h1.alias("h1"),
        h2.alias("h2"),
    )

    def probe(batches):
        bits = np.frombuffer(bitmap.value, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                continue
            maybe = np.ones(len(pdf), dtype=bool)
            for idx in _bloom_indexes(
                pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), m_mask
            ):
                hit = (
                    bits[(idx >> np.uint64(3)).astype(np.int64)]
                    >> (idx & np.uint64(7)).astype(np.uint8)
                ) & 1
                maybe &= hit.astype(bool)
            out = pdf[[c for c in pdf.columns if c not in ("h1", "h2")]].copy()
            out["maybe_seen"] = maybe
            yield out

    schema = f"{id_col} bigint, fp string, maybe_seen boolean"
    probed = tagged.mapInPandas(probe, schema).localCheckpoint(eager=False)

    corpus_fp = corpus.select(fingerprint(F.col(text_col)).alias("fp"))
    maybe = probed.filter("maybe_seen").select("fp").distinct()
    # count BEFORE collecting: a saturated bloom (corpus ≫ m bits) must
    # never pull an unbounded maybe set onto the driver. The count also
    # materializes the lazy localCheckpoint, so the probe pass runs once.
    if maybe.count() > _MAYBE_CAP:
        # bloom not selective: correctness over cleverness — plain
        # distributed anti-join on the 16-byte digest
        return (
            probed.select(id_col, "fp")
            .join(corpus_fp, "fp", "left_anti")
            .select(id_col, "fp")
        )
    maybe_fps = [r["fp"] for r in maybe.collect()]
    if maybe_fps:
        # map-only corpus scan with the broadcast maybe set; output is the
        # tiny set of CONFIRMED-duplicate fingerprints
        confirmed = {
            r["fp"]
            for r in corpus_fp.filter(
                F.col("fp").isin(maybe_fps)
            ).distinct().collect()
        }
    else:
        confirmed = set()
    if len(confirmed) > 1000:
        # too many literals for an isin under codegen — remove the
        # confirmed dups via a broadcast anti-join instead
        conf_df = probed.sparkSession.createDataFrame(
            [(fp,) for fp in sorted(confirmed)], "fp string"
        )
        return (
            probed.select(id_col, "fp")
            .join(F.broadcast(conf_df), "fp", "left_anti")
            .select(id_col, "fp")
        )
    new = probed.filter(
        ~F.col("maybe_seen") | ~F.col("fp").isin(list(confirmed) or [""])
    )
    return new.select(id_col, "fp")
