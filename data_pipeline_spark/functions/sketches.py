"""Dedup / similarity sketches: MinHash, LSH banding, SimHash, cosine.

Design for 100 TB:
- MinHash signatures are computed per-row with array higher-order functions
  (transform/array_min) — no explode of the shingle array, no shuffle, no UDF.
- The k hash functions are ``md5(shingle || '#' || i)`` with the LEXICOGRAPHIC
  min as the signature element.  md5-hex min is a valid min-wise hash family
  and — unlike xxhash64 — is bit-identical in DuckDB/Trino/BigQuery, so the
  correctness oracle can recompute signatures exactly.
- SimHash uses Spark's builtin xxhash64 bit-sliced JVM-side (Spark-only; its
  oracle check is rows-only).
- Cosine is zip_with + aggregate in double precision (codegen'd).

Reference parity: the reference's only similarity machinery is a FAISS L2
index over title embeddings (``product_matching/prediction_pipeline/
product_matcher.py:50-142``); these sketches are its scale-out generalization.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def minhash_signature(shingles: Column | str, k: int = 16) -> Column:
    """MinHash signature: array of k lexicographic-min md5 hashes.

    Empty shingle arrays yield NULL signature elements (doc has no content).
    """
    sh = _c(shingles)

    def _hash_fn(i: int):
        # single-arg lambda: F.transform treats a 2-arg lambda as
        # (element, array_index) — which would silently shadow ``i``
        return lambda s: F.md5(F.concat_ws("#", s, F.lit(str(i))))

    return F.array(*[F.array_min(F.transform(sh, _hash_fn(i))) for i in range(k)])


def lsh_band_keys(signature: Column | str, bands: int, rows_per_band: int) -> Column:
    """LSH banding: array of ``bands`` bucket keys, each the md5 of one band's
    signature rows prefixed with the band index (so buckets from different
    bands never collide).  Docs sharing ANY band key are candidate pairs."""
    sig = _c(signature)
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)],
                )
            )
            for b in range(bands)
        ]
    )


def _assemble_sketch64(bit_is_set) -> Column:
    """Pack 64 boolean bit predicates into one BIGINT sketch.  ``bit_is_set``
    maps bit index → BooleanColumn.  Bit 63 is the long sign bit, encoded as
    ``-(1<<63)`` — shared by every SimHash variant so the subtle encoding
    lives in exactly one place."""
    bit_vals = [1 << b for b in range(63)] + [-(1 << 63)]
    out = F.lit(0).cast("long")
    for b in range(64):
        out = out.bitwiseOR(
            F.when(bit_is_set(b), F.lit(bit_vals[b]).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return out


def simhash64(shingles: Column | str) -> Column:
    """64-bit SimHash over a shingle array, fully JVM-side.

    For each of 64 bit positions, sum +1/-1 votes from each shingle's
    xxhash64 bit; the sign of the sum gives the output bit.  Implemented as
    an aggregate over the shingle array into a 64-slot vote array — no UDF,
    no explode.
    """
    sh = _c(shingles)
    # Bind xxhash64(shingle) ONCE per shingle via a transform stage: the
    # 64 per-bit expressions below reference the bound lambda variable, so
    # each shingle is hashed exactly once (inlining F.xxhash64(s) inside
    # every when() builds an expression tree with 64 hash evaluations per
    # shingle — nothing guarantees Catalyst CSEs inside a lambda).
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    # bit positions are unrolled as Python ints: shiftright/shiftleft take a
    # literal bit count, and unrolling keeps everything in one codegen stage
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                    for b in range(64)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    return _assemble_sketch64(lambda b: F.element_at(votes, b + 1) > 0)


def simhash64_portable(shingles: Column | str) -> Column:
    """SimHash whose per-shingle hash is the lower 64 bits of md5 —
    bit-identical to DuckDB/Trino ``md5_number_lower`` (little-endian of
    digest bytes 8..15), so the WHOLE near-dup pipeline is oracle-checkable
    in ANSI SQL.  Slower than :func:`simhash64` (8 hex→int conversions per
    shingle vs one builtin xxhash64) — use that one when no cross-engine
    parity is needed.

    Bit mapping (verified against hashlib + DuckDB): bit ``b`` of the value
    is bit ``b % 8`` of digest byte ``8 + b // 8``; the hex string exposes
    byte ``j`` at 1-based positions ``2j+1 .. 2j+2``.
    """
    sh = _c(shingles)
    hexes = F.transform(sh, lambda s: F.md5(s))
    # bind the 8 relevant byte values ONCE per shingle (same CSE discipline
    # as simhash64's bound xxhash64)
    byte_arrays = F.transform(
        hexes,
        lambda h: F.transform(
            F.sequence(F.lit(8), F.lit(15)),
            lambda j: F.conv(h.substr(j * F.lit(2) + F.lit(1), F.lit(2)), 16, 10).cast("int"),
        ),
    )
    votes = F.aggregate(
        byte_arrays,
        F.array_repeat(F.lit(0), 64),
        lambda acc, bs: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(F.element_at(bs, b // 8 + 1), b % 8).bitwiseAND(F.lit(1)) == 1,
                        1,
                    ).otherwise(-1)
                    for b in range(64)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    return _assemble_sketch64(lambda b: F.element_at(votes, b + 1) > 0)


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit SimHashes (popcount of XOR)."""
    x = _c(a).bitwiseXOR(_c(b))
    out = F.lit(0)
    for b_ in range(64):
        out = out + F.shiftright(x, b_).bitwiseAND(F.lit(1)).cast("int")
    return out


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two float arrays, double-precision, codegen'd."""
    av, bv = _c(a), _c(b)
    dot = F.aggregate(
        F.zip_with(av, bv, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(av, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(bv, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return F.when((na > 0) & (nb > 0), dot / (na * nb))


def simhash64_sketch_frame(
    df, id_col: str, shingles: Column | str, portable: bool = True
):
    """DataFrame-level SimHash kernel: (id, 64-bit sketch) via
    explode → per-bit SUM aggregation — bit-identical to the Column forms
    (:func:`simhash64` / :func:`simhash64_portable`, asserted in tests) but
    fully inside whole-stage codegen with map-side partial aggregation.

    The Column forms fold a 64-lane vote array per shingle through
    higher-order array functions, which Spark evaluates INTERPRETED — the
    same per-row expression-walk trap the round-1 MinHash rewrite hit.
    Here each exploded shingle row computes 8 bound byte values (or one
    xxhash64) with plain codegen'd expressions, and the 64 vote counters
    become 64 partial-aggregable SUMs.  ~2× on the full near-dup pipeline
    at sf0.1 (see BENCH.md).

    Sign rule: bit set iff strictly more than half the shingles vote 1
    (``2·ones > n``) — identical to the vote-sum-positive rule.  Empty
    shingle arrays sketch to 0 exactly like the Column forms; NULL arrays
    (Column form: NULL) coalesce to 0 here.  ``id_col`` must be unique per
    row (duplicates would merge their votes into one sketch).
    """
    ex = df.select(F.col(id_col), F.explode(_c(shingles)).alias("_s"))
    if portable:
        h = F.md5("_s")
        ex = ex.select(
            id_col,
            *[
                F.conv(h.substr(j * 2 + 1, 2), 16, 10).cast("int").alias(f"_b{j - 8}")
                for j in range(8, 16)
            ],
        )
        bit = lambda b: F.shiftright(F.col(f"_b{b // 8}"), b % 8).bitwiseAND(F.lit(1))
    else:
        ex = ex.select(id_col, F.xxhash64("_s").alias("_h"))
        bit = lambda b: F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)).cast("int")
    agg = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(bit(b)).alias(f"_o{b}") for b in range(64)],
    )
    sketch = _assemble_sketch64(lambda b: 2 * F.col(f"_o{b}") > F.col("_n"))
    sketched = agg.select(id_col, sketch.alias("_sim"))
    # docs whose shingle array is EMPTY or NULL vanish in the explode; the
    # Column forms give them sketch 0 (empty vote fold) — restore them so
    # the kernel is bit-identical at the API boundary too.  Requires ids
    # unique (duplicate ids would merge votes — document, don't pay a
    # distinct job to police it).
    ids = df.select(F.col(id_col))
    return ids.join(sketched, id_col, "left").select(
        id_col, F.coalesce("_sim", F.lit(0).cast("long")).alias("_sim")
    )
