"""Deduplication operators for LLM-training-data pipelines.

Beyond-reference capability (north star in SURVEY §0/§7 Phase 6): exact,
MinHash-LSH, SimHash, n-gram Jaccard and embedding-cosine near-dup. All are
shuffle-lean: exact dedup is one hash groupBy; the approximate variants
generate candidate pairs via equi-joins on bucket keys (never all-pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.text import word_ngrams


def exact_dedup_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical texts; report canonical keeper + multiplicity.

    One map-side-combined hash aggregation — the cheapest possible dedup at
    100 TB (no shuffle of the text payload if you pre-hash; we group on
    md5 so only the 32-byte digest + id shuffle).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def jaccard_ngram_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Pairwise word-n-gram Jaccard similarity ≥ threshold, via an
    inverted-index equi-join (not an all-pairs theta join): explode shingles,
    self-join on the shingle, count shared shingles per pair, combine with
    per-doc set sizes. Pair volume ∝ shingle co-occurrence — the scalable
    exact formulation.

    ``max_df`` optionally drops shingles appearing in more than max_df docs
    (stop-shingles). That bounds join fan-out at corpus scale but makes the
    result approximate (pairs sharing *only* common shingles are missed) —
    leave None for exact semantics.
    """
    g = df.select(
        F.col(id_col).cast("long").alias("did"),
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("gram"),
    )
    # materialize once: three consumers below (sizes + both self-join
    # sides) would otherwise re-run the n-gram explode per consumer
    g = g.localCheckpoint(eager=True)
    sizes = g.groupBy("did").agg(F.count(F.lit(1)).alias("sz"))
    if max_df is not None:
        keep = (
            g.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("gram")
        )
        g = g.join(keep, "gram", "semi")
    a = g.select(F.col("did").alias("id_a"), "gram")
    b = g.select(F.col("did").alias("id_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("did").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("did").alias("id_b"), F.col("sz").alias("sz_b"))
    ni = F.col("n_inter").cast("double")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                ni / (F.col("sz_a") + F.col("sz_b") - ni), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    impl: str = "arrow",
    hashed_grams: bool = False,
) -> DataFrame:
    """(did, grams, sig): distinct word n-gram set + MinHash signature
    per document, eagerly checkpointed (both consumers — the band
    generator and the Jaccard verify — re-read it several times).

    The shared signature kernel of the dedup stack: batch near-dup
    (:func:`minhash_dedup_pairs`) and the streaming index maintainer
    (streaming/neardup.py) both call this, so a document's signature is
    bit-identical whether it arrived in the backfill or a micro-batch
    — the property the incremental artifact's replay detection and the
    DuckDB oracle parity both rest on.

    ``hashed_grams=True`` returns (did, ghash, sig) instead: ghash is
    the SORTED distinct det_hash60 (15 md5 hex chars, 60-bit) of each
    gram — what the streaming maintainer PERSISTS so the artifact
    stores ~16 bytes per distinct gram instead of the raw n-gram
    string (word-3-grams ≈ 3× the document text; at corpus scale the
    dedup artifact would outweigh the corpus). Exact Jaccard over the
    hash sets equals Jaccard over the strings up to 60-bit birthday
    collisions (≈ \\|gram set\\|²/2⁶¹ per pair — negligible), both md5
    prefixes come from ONE digest per distinct shingle, and the DuckDB
    oracle replays the identical hashing (DET_HASH60_SQL).
    """
    from collections.abc import Iterator

    import pandas as pd

    import numpy as np

    from vectordbindexing_spark.functions.hashing import (
        minhash_signature_np,
    )
    from vectordbindexing_spark.plans.partitioning import (
        repartition_for_compute,
    )

    _CACHE_MAX = 2_000_000  # ~100 MB of shingle→hash entries per worker

    def signatures(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # md5 once per DISTINCT shingle per worker, not once per
        # occurrence: shingles repeat across documents (Zipfian), so the
        # cache turns the Python-md5 cost from O(total shingles) into
        # O(vocabulary). (Moving the md5 JVM-side was measured 2-3x
        # SLOWER — higher-order transform() is interpreted, not codegen'd.)
        # One digest yields both prefixes: sig hash (8 hex chars) and,
        # when hashed_grams, the persisted gram hash (15 hex chars).
        import hashlib

        cache: dict[str, tuple[int, int]] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sigs, ghs = [], []
            for grams in pdf["grams"]:
                hs = np.empty(len(grams), dtype=np.int64)
                h60 = np.empty(len(grams), dtype=np.int64)
                for i, s in enumerate(grams):
                    v = cache.get(s)
                    if v is None:
                        if len(cache) >= _CACHE_MAX:
                            cache.clear()
                        hexd = hashlib.md5(s.encode("utf-8")).hexdigest()
                        v = (int(hexd[:8], 16), int(hexd[:15], 16))
                        cache[s] = v
                    hs[i] = v[0]
                    h60[i] = v[1]
                sigs.append(minhash_signature_np(hs, num_hashes).tolist())
                if hashed_grams:
                    ghs.append(np.unique(h60).tolist())
            if hashed_grams:
                yield pd.DataFrame(
                    {"did": pdf["did"], "ghash": ghs, "sig": sigs}
                )
            else:
                yield pd.DataFrame(
                    {"did": pdf["did"], "grams": pdf["grams"], "sig": sigs}
                )

    shingled = repartition_for_compute(df).select(
        F.col(id_col).cast("long").alias("did"),
        F.array_distinct(word_ngrams(F.col(text_col), n)).alias("grams"),
    )
    if impl == "jvm":
        out = _minhash_signatures_jvm(shingled, num_hashes)
        if hashed_grams:
            out = out.select("did", grams_to_ghash("grams"), "sig")
        return out.localCheckpoint(eager=True)
    gram_field = (
        "ghash array<long>" if hashed_grams else "grams array<string>"
    )
    return (
        # Arrow-batched kernel: cached md5 per distinct shingle +
        # vectorized affine minima (the pure-Column variant re-evaluates
        # the md5 array inside every per-hash lambda — measured ~40x
        # slower)
        shingled.mapInPandas(
            signatures,
            schema=f"did long, {gram_field}, sig array<long>",
        )
        # materialize: the banding generator + band self-join / verify
        # would otherwise recompute the signature kernel several times
        .localCheckpoint(eager=True)
    )


def grams_to_ghash(grams_col) -> Column:
    """array<string> grams → the canonical persisted gram-hash set:
    sorted distinct det_hash60 values (aliased ``ghash``). The JVM twin
    of the arrow kernel's np.unique(h60) — also the one-time migration
    expression for artifacts that still store raw gram strings."""
    from vectordbindexing_spark.functions.hashing import det_hash60

    return F.sort_array(
        F.array_distinct(F.transform(grams_col, det_hash60))
    ).alias("ghash")


def band_rows(g: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(did, band_idx, band_key) LSH band rows from a signature table.

    Bands the bare ids only: the explode and any band equi-join shuffle
    (did, band_key) pairs, never the shingle arrays — at corpus scale
    the gram sets dominate row width, so they are re-attached by id
    AFTER candidate pairs are deduped (narrow hash joins instead of
    2×bands copies of every gram array through the exchange).
    """
    return g.select(
        "did",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band_idx"),
                    F.concat_ws(
                        "_",
                        F.slice(
                            "sig", i * rows_per_band + 1, rows_per_band
                        ).cast("array<string>"),
                    ).alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select("did", "band.band_idx", "band.band_key")


def exact_jaccard_pairs(
    pair_ids: DataFrame,
    grams_a: DataFrame,
    grams_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Verify candidate (id_a, id_b) pairs by exact Jaccard over the
    distinct-gram sets — ``grams_a``/``grams_b`` are (did, grams)
    lookups for the two sides (the same table for a self-dedup)."""
    cand = (
        pair_ids.join(
            grams_a.select(
                F.col("did").alias("id_a"), F.col("grams").alias("grams_a")
            ),
            "id_a",
        )
        .join(
            grams_b.select(
                F.col("did").alias("id_b"), F.col("grams").alias("grams_b")
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    union = (
        F.size("grams_a").cast("double")
        + F.size("grams_b").cast("double")
        - inter
    )
    return (
        cand.select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    impl: str = "arrow",
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified by exact Jaccard.

    shingle → minhash signature (num_hashes deterministic affine hashes of a
    cross-engine md5-based shingle hash) → band → equi-join on
    (band_idx, band_key) → exact Jaccard verify. The equi-join on band keys
    is the 100 TB scale trick: candidate volume ∝ collisions, not n².

    ``impl`` picks the signature plan (results pinned identical by
    test_dedup_scale): "arrow" = mapInPandas kernel with a per-worker
    distinct-shingle md5 cache (Python md5 cost O(vocabulary));
    "jvm" = explode shingles → codegen'd md5 expression → ``num_hashes``
    partially-aggregated F.min affine hashes (no Python, map-side
    combine; md5 runs per shingle occurrence).

    "arrow" stays the default on measurement: at sf0.1 (5k docs,
    local[32]) the full pairs pipeline is ~2.1 s arrow vs ~37 s jvm
    (best of 3 warm runs) — the jvm path's per-occurrence md5 and
    num_hashes aggregates over the exploded table dominate, while the
    arrow path amortizes md5 over the Zipfian vocabulary. The jvm path
    remains for clusters where Python workers are unavailable.
    """
    g = minhash_signatures(
        df, text_col=text_col, id_col=id_col, n=n,
        num_hashes=num_hashes, impl=impl,
    )
    banded = band_rows(g, bands, num_hashes // bands)
    a = banded.select(F.col("did").alias("id_a"), "band_idx", "band_key")
    b = banded.select(F.col("did").alias("id_b"), "band_idx", "band_key")
    pair_ids = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    grams_tbl = g.select("did", "grams")
    return exact_jaccard_pairs(pair_ids, grams_tbl, grams_tbl, threshold)


def _minhash_signatures_jvm(shingled: DataFrame, num_hashes: int) -> DataFrame:
    """(did, grams) → (did, grams, sig) with the signature computed
    entirely JVM-side: explode distinct shingles, hash each with the
    codegen'd md5 expression, and reduce ``num_hashes`` affine minima as
    partially-aggregated F.min columns — only (did, num_hashes longs)
    partial aggregates reach the exchange, never the shingle strings.
    Docs with zero shingles coalesce to the all-MERSENNE31 sentinel
    signature (minhash_signature_np's empty-set convention)."""
    from vectordbindexing_spark.functions.hashing import (
        _A_ADD,
        _A_MUL,
        _B_ADD,
        _B_MUL,
        MERSENNE31,
        det_hash64,
    )

    ex = shingled.select("did", F.explode("grams").alias("gram"))
    hm = (det_hash64(F.col("gram")) % F.lit(MERSENNE31)).alias("hm")
    mins = ex.select("did", hm).groupBy("did").agg(
        *[
            F.min(
                F.pmod(
                    F.lit(((i + 1) * _A_MUL + _A_ADD) % MERSENNE31).cast("long")
                    * F.col("hm")
                    + F.lit((i + 1) * _B_MUL + _B_ADD).cast("long"),
                    F.lit(MERSENNE31).cast("long"),
                )
            ).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    sig = F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])
    sig_tbl = mins.select("did", sig.alias("sig"))
    sentinel = F.array_repeat(F.lit(MERSENNE31).cast("long"), num_hashes)
    return shingled.join(sig_tbl, "did", "left").select(
        "did", "grams", F.coalesce("sig", sentinel).alias("sig")
    )


def simhash_text_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 32,
    impl: str = "arrow",
) -> DataFrame:
    """Token-frequency SimHash fingerprint per document: bit j is set iff
    Σ_tokens (±1 from bit j of the token's md5-hash) ≥ 0. The text twin of
    the vector SimHash (simple_sim_hash.py semantics applied to a bag of
    words). Exact-integer, cross-engine reproducible; two equivalent
    physical plans (pinned identical by test_dedup_scale):

    - ``impl="arrow"`` (default): mapInPandas kernel that hashes only the
      batch's DISTINCT tokens (np.unique — vocabulary ≪ token count) and
      does one vectorized sign-aggregation per batch. Python md5 cost is
      O(vocabulary) per batch; zero shuffle.
    - ``impl="jvm"``: explode tokens → codegen'd md5 expression →
      ``num_bits`` partially-aggregated conditional sums (map-side
      combine: one (did, 32 longs) row per doc per partition reaches the
      exchange) → bit pack. No Python at all, but md5 runs once per token
      OCCURRENCE. Measured at sf0.1 (5k docs, local[32], warm): 1.06 s vs
      0.64 s for the Arrow kernel (minhash: 4.9 s vs 3.0 s) — the Zipfian
      vocabulary cache beats codegen'd per-occurrence hashing, so Arrow
      stays the default; the JVM plan is kept parity-pinned because a
      no-Python-worker deployment (or a GIL-bound executor profile) may
      prefer it, and the choice is one flag.
    """
    if num_bits > 60:
        # bits 32-59 come from the second derived hash (28-bit mask);
        # beyond 60 the high bands' sign sums are all -len again (the
        # collapsed mega-bucket bug this layout fixes) and 1<<i bit
        # weights overflow int64 at i >= 63
        raise ValueError(
            f"num_bits={num_bits} > 60: the packed int64 fingerprint "
            "carries at most 60 derived hash bits"
        )
    if impl == "jvm":
        return _simhash_text_fingerprints_jvm(df, text_col, id_col, num_bits)
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from vectordbindexing_spark.functions.hashing import det_hash64_py
    from vectordbindexing_spark.plans.partitioning import repartition_for_compute

    shifts = np.arange(num_bits, dtype=np.int64)
    weights = (np.int64(1) << shifts)

    def fingerprints(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks = [
                # None (missing text) tokenizes as empty — same contract
                # as the textops null-safe tokenization
                [t for t in txt.split(" ") if t] if txt is not None else []
                for txt in pdf["txt"]
            ]
            lens = np.array([len(t) for t in toks], dtype=np.int64)
            # empty docs → all bits set (sum 0 ≥ 0 for every bit)
            fps = np.full(len(pdf), int(weights.sum()), dtype=np.int64)
            nz = lens > 0
            if nz.any():
                flat = np.concatenate(
                    [np.asarray(t, dtype=object) for t in toks if t]
                )
                uniq, inv = np.unique(flat, return_inverse=True)
                uh = np.array([det_hash64_py(t) for t in uniq], dtype=np.int64)
                if num_bits > 32:
                    # det_hash64 yields 32 bits; wider fingerprints draw
                    # bits 32+ from a second derived hash, else every
                    # high band's sign sum is -len and the band keys
                    # collapse onto one mega-bucket
                    uh |= (
                        np.array(
                            [det_hash64_py(t + "#2") for t in uniq],
                            dtype=np.int64,
                        )
                        & 0xFFFFFFF
                    ) << 32
                flat_h = uh[inv]
                offsets = np.zeros(int(nz.sum()), dtype=np.int64)
                offsets[1:] = np.cumsum(lens[nz])[:-1]
                signs = ((flat_h[:, None] >> shifts[None, :]) & 1) * 2 - 1
                seg = np.add.reduceat(signs, offsets, axis=0)
                fps[nz] = (seg >= 0) @ weights
            yield pd.DataFrame({"did": pdf["did"], "fingerprint": fps})

    return repartition_for_compute(
        df.select(
            F.col(id_col).cast("long").alias("did"), F.col(text_col).alias("txt")
        )
    ).mapInPandas(fingerprints, schema="did long, fingerprint long")


def _simhash_text_fingerprints_jvm(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_bits: int,
) -> DataFrame:
    """Pure-expression twin of the Arrow fingerprint kernel (see
    simhash_text_fingerprints impl="jvm"): explode occurrences, hash with
    the codegen'd md5 expression, aggregate per-bit sign sums with
    map-side combine, pack bits, and coalesce token-less docs to the
    all-bits-set fingerprint (empty sum ≥ 0 for every bit)."""
    from vectordbindexing_spark.functions.hashing import det_hash64

    ids = df.select(
        F.col(id_col).cast("long").alias("did"), F.col(text_col).alias("txt")
    )
    toks = ids.select(
        "did",
        F.explode(
            F.filter(F.split("txt", " "), lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    h = det_hash64(F.col("tok"))
    if num_bits > 32:
        # second derived hash for bits 32+ (same convention as the
        # Arrow kernel — det_hash64 is 32-bit)
        h = h.bitwiseOR(
            F.shiftleft(
                det_hash64(F.concat(F.col("tok"), F.lit("#2")))
                .bitwiseAND(F.lit(0xFFFFFFF)),
                32,
            )
        )
    hashed = toks.select("did", h.alias("h"))
    sums = hashed.groupBy("did").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            ).alias(f"_s{j}")
            for j in range(num_bits)
        ]
    )
    fp = None
    for j in range(num_bits):
        term = (
            F.when(F.col(f"_s{j}") >= 0, F.lit(1 << j).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        fp = term if fp is None else fp + term
    fp_tbl = sums.select("did", fp.alias("fingerprint"))
    all_bits = (1 << num_bits) - 1
    return ids.select("did").join(fp_tbl, "did", "left").select(
        "did",
        F.coalesce("fingerprint", F.lit(all_bits).cast("long")).alias(
            "fingerprint"
        ),
    )


def scaled_simhash_bits(n: int, bands: int = 4) -> int:
    """Fingerprint width for ``num_bits="auto"``: per-band key space
    sized at ceil(log2 n) bits, clamped to [8, 15] bits per band (≤ 60
    total so the packed fingerprint and its bit weights stay positive
    int64) — i.e. corpora past ~32k docs get the full-width fingerprint,
    the Manku/Jain/Sarma WWW'07 convention (64-bit SimHash, hamming ≤ 3,
    4 band tables). Width matters twice: a fixed 32-bit fingerprint
    means 8-bit band keys — ≥ n/256 docs per bucket however clean the
    corpus (reproduced: JVM OOM at 100k synthetic docs) — and
    low-entropy (templated) corpora concentrate keys ~100× beyond the
    uniform estimate (measured: 18.5k-doc top bucket out of 1024 keys),
    so the key space wants every bit the hash can give it. The
    pigeonhole guarantee depends only on bands > max_hamming, never on
    key width."""
    import math

    bpb = math.ceil(math.log2(max(n, 2)))
    # 60 // bands: the TOTAL must stay ≤ 60 whatever the band count —
    # bands ≥ 5 at 15 bits/band would yield 75 bits, silently recreating
    # the >60-bit collapse the width guard below rejects
    return bands * max(1, min(15, 60 // bands, max(8, bpb)))


def simhash_text_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int | str = "auto",
    max_hamming: int = 3,
    bands: int = 4,
    bucket_cap: int | None = 20_000,
) -> DataFrame:
    """SimHash near-dup pairs: fingerprint → band-bucket equi-join
    (pigeonhole: hamming ≤ bands-1 ⇒ some band identical) → exact hamming
    verify via bit_count(xor). Candidate volume ∝ band collisions.

    ``num_bits="auto"`` sizes the fingerprint by the occupancy rule
    (:func:`scaled_simhash_bits` — one count job); the contract queries
    pin 32 explicitly. ``bucket_cap`` caps each (band, key) bucket to
    the cap-smallest ids before the self-join — the reference's own
    20k bucket cap (simple_sim_hash.py:10) — bounding the join at
    bands·cap² even when a degenerate corpus (boilerplate templates,
    empty docs) collapses fingerprints onto few keys. A no-op whenever
    no bucket exceeds the cap (every contract scale), so the pinned
    oracles replay the uncapped join unchanged; pairs inside a capped
    mega-bucket beyond the cap are traded away exactly like the vector
    LSH path documents.
    """
    if max_hamming >= bands:
        raise ValueError("need max_hamming < bands for the pigeonhole probe")
    if num_bits == "auto":
        num_bits = scaled_simhash_bits(df.count(), bands)
    bits_per_band = num_bits // bands
    mask = (1 << bits_per_band) - 1
    fp = simhash_text_fingerprints(df, text_col, id_col, num_bits)
    fp = fp.localCheckpoint(eager=True)  # reused by 2 join branches
    banded = fp.select(
        "did",
        "fingerprint",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("fingerprint"), b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("did", "fingerprint", "band.band_idx", "band.band_key")
    if bucket_cap is not None:
        # r07: probe max bucket occupancy first — one map-side-combined
        # count job over the (cheap, fp is checkpointed) banded
        # projection — and only pay the row_number window (a full
        # shuffle+sort of every (band, key) partition) when some bucket
        # actually exceeds the cap. At every contract scale the cap is a
        # no-op, and the unconditional window was the r06 bench
        # regression (dedup_groups 6.3→10.1 s, simhash 2.6→5.1 s).
        max_occ = (
            banded.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n"))
            .first()[0]
        )
        if max_occ is not None and max_occ > bucket_cap:
            from pyspark.sql import Window

            w = Window.partitionBy("band_idx", "band_key").orderBy("did")
            banded = (
                banded.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") <= bucket_cap)
                .drop("_r")
            )
    a = banded.select(
        F.col("did").alias("id_a"), F.col("fingerprint").alias("fp_a"),
        "band_idx", "band_key",
    )
    b = banded.select(
        F.col("did").alias("id_b"), F.col("fingerprint").alias("fp_b"),
        "band_idx", "band_key",
    )
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_bits: int | str = "auto",
    num_tables: int = 8,
    bucket_cap: int | None = 20_000,
) -> DataFrame:
    """Corpus-scale embedding near-dup: SimHash bucket equi-join candidate
    pairs → exact cosine verify (the scale composition the broadcast path
    documents). Both sides stay distributed; candidate volume ∝ bucket
    collisions, not n². Approximate: a pair whose fingerprints collide in
    no table is missed — recall rises with num_tables and falls with
    num_bits (tune to the threshold's angle: P(bit agree) = 1 - θ/π).

    ``num_bits="auto"`` sizes buckets by lsh.scaled_num_bits' occupancy
    rule (one count job): a fixed 8-bit table is 256 buckets — ~1000
    rows per bucket at 250k vectors and a quadratic join on clustered
    data (reproduced: the 250k smoke never finished) — while scaled
    bits keep per-bucket volume ~constant as n grows. ``bucket_cap``
    (the reference's 20k) bounds the worst skewed bucket either way.

    Output (id_a, id_b, cos_sim ≥ threshold) with id_a < id_b, exact sims —
    precision 1.0 relative to :func:`embedding_neardup_pairs`.
    """
    from vectordbindexing_spark.operators.lsh import (
        scaled_num_bits,
        simhash_buckets,
    )

    src = df.select(
        F.col(id_col).cast("long").alias("vid"), F.col(vec_col).alias("v")
    )
    if num_bits == "auto":
        # target ~256/bucket: the verify kernel comfortably handles
        # 256²/2 exact sims per bucket, and the cap still bounds skew
        num_bits = scaled_num_bits(src.count(), target_bucket=256)
    bt = simhash_buckets(src, "vid", "v", num_bits, num_tables, bucket_cap)
    # Verify WITHIN each bucket in an Arrow kernel instead of a
    # candidate self-join: a tight cluster puts ~cap ids in one bucket
    # per table, and materializing the tables·cap²/2 candidate pairs as
    # shuffle rows OOMed a 128 GiB box at 250k vectors (the cap bounds
    # the count, not the row explosion). Per bucket the kernel holds
    # only (cap·d) vectors plus one blocked Gram slab, and PAIRS ONLY
    # EXIST AS OUTPUT — rows emitted ∝ matches, the same principle as
    # the blocked exact-KNN kernel. Cross-table duplicates are deduped
    # on the (output-sized) match set with min() for determinism.
    rows = bt.join(src.select(F.col("vid").alias("id"), "v"), "id")

    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"id_a": np.empty(0, np.int64),
                 "id_b": np.empty(0, np.int64),
                 "cos_sim": np.empty(0, np.float64)}
            )
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        blk = max(1, (64 * 1024 * 1024) // max(8 * n, 1))
        outs = []
        for s in range(0, n, blk):
            S = np.round(Vn[s : s + blk] @ Vn.T, 6)
            ii, jj = np.nonzero(
                (S >= thr)
                & (ids[s : s + blk, None] < ids[None, :])
            )
            if len(ii):
                outs.append(
                    pd.DataFrame(
                        {"id_a": ids[s + ii], "id_b": ids[jj],
                         "cos_sim": S[ii, jj]}
                    )
                )
        if not outs:
            return pd.DataFrame(
                {"id_a": np.empty(0, np.int64),
                 "id_b": np.empty(0, np.int64),
                 "cos_sim": np.empty(0, np.float64)}
            )
        return pd.concat(outs, ignore_index=True)

    matched = rows.groupBy("bucket").applyInPandas(
        verify, schema="id_a long, id_b long, cos_sim double"
    )
    return matched.groupBy("id_a", "id_b").agg(
        F.min("cos_sim").alias("cos_sim")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    broadcast_limit: int = 200_000,
    num_bits: int | str = "auto",
    num_tables: int = 8,
) -> DataFrame:
    """Pairs with cosine similarity ≥ threshold (embedding near-dup).

    Physical strategy: broadcast the (id, vec) matrix, stream the table
    through a numpy matmul kernel emitting only above-threshold pairs with
    id_a < id_b — one scan, no shuffle of vectors, output ∝ matches.
    Above ``broadcast_limit`` rows the matrix no longer broadcasts and the
    plan auto-routes to :func:`embedding_neardup_lsh` (SimHash-bucketed
    candidates + exact verify — same output contract, approximate recall).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    src = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("vid"), F.col(vec_col).alias("v")
    )
    # bounded collect: limit+1 rows coming back IS the "too big" signal —
    # one job, and the driver never holds more than broadcast_limit+1 rows
    rows = src.limit(broadcast_limit + 1).toPandas()
    if len(rows) > broadcast_limit:
        return embedding_neardup_lsh(
            df, id_col, vec_col, threshold,
            num_bits=num_bits, num_tables=num_tables,
        )
    ids = rows["vid"].to_numpy()
    B = np.stack([np.asarray(v, dtype=np.float64) for v in rows["v"]])
    Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, Bn))

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bids, bN = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            A = A / np.linalg.norm(A, axis=1, keepdims=True)
            aids = pdf["vid"].to_numpy()
            S = A @ bN.T
            Sr = np.round(S, 6)
            ii, jj = np.nonzero((Sr >= threshold) & (aids[:, None] < bids[None, :]))
            yield pd.DataFrame(
                {
                    "id_a": aids[ii],
                    "id_b": bids[jj],
                    "cos_sim": Sr[ii, jj],
                }
            )

    from vectordbindexing_spark.plans.partitioning import repartition_for_compute

    return repartition_for_compute(src).mapInPandas(
        pairs, schema="id_a long, id_b long, cos_sim double"
    )


def editdist_neardup_pairs(
    df: DataFrame,
    *,
    d: int = 2,
    q: int = 3,
    key_col: str = "text",
    id_col: str = "doc_id",
    cell_cap: int = 10_000,
) -> DataFrame:
    """Fuzzy-key near-dup pairs within Levenshtein distance ``d`` via
    LOSSLESS q-gram prefix filtering (Ed-Join, Xiao et al. VLDB'08) —
    the edit-distance member of the dedup family (exact / MinHash /
    SimHash / Jaccard / embedding), for title-or-key-level typo dedup.

    Never all-pairs. Each edit destroys at most ``q`` positional
    q-grams, so ed(a,b) <= d implies multiset overlap
    >= max(n_a, n_b) - d*q; by the prefix-filtering principle the two
    docs must then share a token among their first ``d*q + 1`` q-grams
    under one global order. We sort each doc's grams by GLOBAL
    FREQUENCY ascending (rarest first), so candidate buckets are the
    rare-gram inverted-index cells — small by construction. Docs with
    <= d*q grams (shorter than ~q(d+1) chars) get a sentinel token and
    pair among themselves, which closes the only hole in the theorem
    (max(n) <= d*q pairs can share zero grams). Final verification is
    JVM levenshtein with the early-exit threshold (O(d·L) per pair,
    not O(L^2)).

    Plan at 100 TB: gram explode (scan-local) -> one groupBy for
    global frequencies -> per-doc top-(dq+1) window (partitioned by
    doc) -> equi-join on the prefix token -> threshold levenshtein on
    the candidate pairs only. Output (id_a, id_b, dist), id_a < id_b,
    exact — tests pin it equal to brute force.

    ``cell_cap`` guards degenerate template corpora where even the
    rarest grams collect huge inverted-index cells (which also means
    the TRUE answer is quadratically large). Like the simhash cap
    (r06 lesson), it is probe-gated: one cheap max-cell-count agg,
    and the capping window only enters the plan when some cell
    actually overflows — so the common exact path keeps its plan.
    When the cap engages, recall on keys inside overflowing cells is
    best-effort (documented approximation, never false positives).
    """
    prefix_len = d * q + 1
    s = F.coalesce(F.col(key_col), F.lit(""))
    base = df.select(
        F.col(id_col).alias("_id"), s.alias("_key"),
        F.length(s).alias("_len"),
    )
    # occurrence index via one row_number window — measured FASTER at
    # 110k keys than the scan-local O(L²) array-domain alternative
    # (per-element slice/filter allocation churn beats one shuffle).
    # The explode runs over a POSITION sequence, with the gram sliced
    # from _key per row, rather than over a materialized gram array: a
    # Generate over transform(..substring(coalesce(text..))..) plants a
    # plan constraint that references the pruned input column, which
    # crashes Spark 4.1's UnionBase.rewriteConstraints downstream
    # ("key not found: text") once the grouped candidate pass below
    # asks the prefix ∪ short union for its constraints. A position
    # sequence's constraint references only _len, which every
    # downstream projection keeps. Gram values are identical:
    # substr(_key, p, q) for p = 1..max(len-q+1, 1).
    n_grams = F.greatest(F.col("_len") - F.lit(q - 1), F.lit(1))
    occ = base.select(
        "_id", "_len", "_key",
        F.posexplode(F.sequence(F.lit(1), n_grams)).alias("_pos", "_p"),
    ).select(
        "_id", "_len", "_pos",
        F.col("_key").substr(F.col("_p"), F.lit(q)).alias("_gram"),
    )
    w_occ = Window.partitionBy("_id", "_gram").orderBy("_pos")
    tokens = occ.withColumn("_k", F.row_number().over(w_occ))
    freq = tokens.groupBy("_gram", "_k").agg(
        F.count(F.lit(1)).alias("_freq")
    )
    w_doc = Window.partitionBy("_id").orderBy("_freq", "_gram", "_k")
    prefix = (
        tokens.join(freq, ["_gram", "_k"])
        .withColumn("_r", F.row_number().over(w_doc))
        .filter(F.col("_r") <= prefix_len)
        .select("_id", "_len", "_gram", "_k")
    )
    # the short-doc condition is expressed on _len, NOT size(_grams):
    # size(_grams) == greatest(_len - (q-1), 1) by construction, and
    # the _len form keeps the filter's plan constraint on an output
    # column instead of the pruned input text expression.
    short = base.filter(
        F.greatest(F.col("_len") - F.lit(q - 1), F.lit(1)) <= d * q
    ).select(
        "_id", "_len",
        F.lit("\x00SHORT").alias("_gram"), F.lit(0).alias("_k"),
    )
    inv = prefix.unionByName(short)
    if df.limit(cell_cap + 1).count() > cell_cap:
        # n_rows <= cap already proves no cell can overflow (one cheap
        # columnar count — the common exact path pays only that).
        # Above it, ONE scan+agg probe (no windows/joins in its
        # lineage) upper-bounds every cell: a prefix cell (gram, k)
        # never exceeds the count of DOCS containing that gram (the
        # per-(_id, _gram) distinct — occurrence counts would
        # overestimate and drag the cap window in needlessly), and the
        # sentinel row injected per short doc makes the same groupBy
        # bound the sentinel cell exactly.
        bound = (
            occ.select("_id", "_gram").distinct()
            .unionByName(short.select("_id", "_gram"))
            .groupBy("_gram").count()
            .agg(F.max("count").alias("m")).collect()[0]["m"]
        )
        if bound is not None and bound > cell_cap:
            w_cell = Window.partitionBy("_gram", "_k").orderBy("_id")
            inv = (
                inv.withColumn("_cr", F.row_number().over(w_cell))
                .filter(F.col("_cr") <= cell_cap)
                .drop("_cr")
            )
    # pairs within each inverted-index cell via ONE groupBy + nested
    # explode, not inv ⋈ inv: the self-join re-planned the whole inv
    # subtree (gram explode, occurrence + per-doc windows, frequency
    # aggregate+join) on BOTH sides with fresh expression ids — no
    # ReusedExchange fired, so every input scan and shuffle ran twice
    # (measured 28 Exchanges / 48 parquet scans in the sf0.1 plan,
    # 11.4 s isolated; 8.2 s after). The grouped form computes inv
    # once, pays one exchange on the cell key, and emits the identical
    # (id_a < id_b, |len diff| ≤ d) candidate set — cell arrays are
    # ≤ cell_cap rows (the probe-gated window above caps overflow
    # BEFORE the groupBy, keeping degenerate cells on the spilling
    # sort path rather than in collect_list memory). A localCheckpoint
    # of inv would also dedup the subtree but crashes Spark 4.1's
    # constraint rewrite ("key not found" — the Generate-derived
    # size(transform(text..)) constraint references the pruned input
    # column).
    cells = inv.groupBy("_gram", "_k").agg(
        F.collect_list(F.struct("_id", "_len")).alias("_xs")
    )
    cand = (
        cells.select(F.explode("_xs").alias("a"), "_xs")
        .select("a", F.explode("_xs").alias("b"))
        .filter(
            (F.col("a._id") < F.col("b._id"))
            & (F.abs(F.col("a._len") - F.col("b._len")) <= d)
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    keys = base.select("_id", "_key")
    verified = (
        cand.join(keys.withColumnRenamed("_id", "id_a")
                      .withColumnRenamed("_key", "_ka"), "id_a")
        .join(keys.withColumnRenamed("_id", "id_b")
                  .withColumnRenamed("_key", "_kb"), "id_b")
        .withColumn("dist", F.levenshtein("_ka", "_kb", d))
        .filter(F.col("dist") >= 0)
    )
    return verified.select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"),
        F.col("dist").cast("long"),
    )
