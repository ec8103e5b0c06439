"""Probabilistic sketches for corpus-scale statistics: HyperLogLog
distinct counting, Bloom-filter membership prefilters, and count-min
frequency estimation.

These are the operators a 100 TB pipeline uses where exact answers are
shuffle-bound: HLL turns COUNT(DISTINCT) into a 256-row mergeable
register table per group; a Bloom filter turns "is this shingle in the
benchmark set" into a broadcast bitset probe; count-min turns unbounded
heavy-hitter tracking into a fixed d×w counter grid that map-side
combines. All three have one aggregation shape — small fixed-size
state, partial-merge friendly — which is exactly what survives scale.

Hashing is *arithmetic* (multiply-add-mod plus xorshift over exact
integers, products bounded < 2^63) rather than xxhash64, for the same
reason as operators.dedup: the identical numbers are computable in ANSI
SQL, so the DuckDB oracle replays register values, bit positions, and
counter cells exactly — the sketches are hash-verified, not
smoke-checked. The xorshift rounds are load-bearing: a chain of
multiply-add-mod rounds composes to ONE affine map, and affine images
of structured keys (sequential ids, shingle values sharing tokens) are
low-discrepancy sets that wreck sketch statistics — measured: HLL read
811 for 2000 sequential ids, and a Bloom filter hit 11.7% FPR where
theory says 0.2%. With the GF(2) mixing interleaved, both behave as if
the inputs were iid uniform (HLL 1997/2000; Bloom FPR ≈ theory).
Double math (the HLL alpha correction, ln in linear counting) happens
once per GROUP on top of order-independent integer sums, so the only
float divergence between engines is final-operation ulps, far below
the driver's 6-significant-figure compare.

Reference parity: the reference (dmCustomerProc.py) has no sketch
surface at all — this module is part of the SURVEY §2.12 extension
inventory (training-data-pipeline operators).

No UDFs — pure Catalyst expressions, codegen'd JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Shared 31-bit Mersenne-prime modulus. Inputs are reduced mod P
#: before multiplying, so every product stays < 2^48 — exact in both
#: Spark LONG and DuckDB BIGINT, no overflow-semantics divergence.
#: Precondition (documented, not asserted): hashed values are
#: non-negative, so Spark ``%`` and DuckDB ``%`` agree.
SKETCH_P = 2_147_483_647

#: (a, b) per independent hash row — MINSTD-family multipliers.
HASH_ROWS = (
    (48_271, 0),
    (69_621, 12_345),
    (40_692, 1_013),
    (40_014, 2_531),
)

#: Xorshift distances between the multiply rounds of ``strong_mix``.
MIX_SHIFTS = (15, 13, 16)


def _mix(col: Column, a: int, b: int) -> Column:
    """One universal-hash round: ((x % P) * a + b) % P."""
    return ((col % F.lit(SKETCH_P)) * F.lit(a) + F.lit(b)) % F.lit(SKETCH_P)


#: Pre-fold chunk split: low bits XORed in after the high bits are
#: spread by one universal round.
MIX_LO_BITS = 24


def strong_mix(col: Column) -> Column:
    """Multiply–xorshift mixer: a chunked pre-fold, then three
    universal-hash rounds interleaved with ``h ^= h >> s``. Every
    sketch below hashes through this before deriving register indices /
    bit positions / counter cells, so structured keys behave as iid
    uniform.

    The pre-fold ``((v >> 24)·a + b mod P) XOR (v & 0xFFFFFF)`` is what
    makes wide keys safe: a bare ``v % P`` is NOT injective on 45-bit
    shingle values, and because 2^31 ≡ 1 (mod P) the collisions align
    with shingle structure — triples (t1+2δ, t2, t3−δ) share a residue.
    Measured on the sf0.01 corpus: 13,020 distinct shingles → 9,533
    distinct hashes, which drove a Bloom FPR of 11% against a 0.08%
    theory. With the pre-fold the same corpus maps 13,020 → 13,020 and
    the FPR lands on theory (0.065%). The fold is exact for any
    non-negative 64-bit key: (v>>24) ≤ 2^40, so the product stays
    < 2^56 in both engines. All later intermediates stay ≤ 2^31-1;
    DuckDB replays via ``xor()``, ``>>``, ``&``."""
    col = col.cast("long")  # narrower integral inputs would overflow
    a3, b3 = HASH_ROWS[3]
    h = (
        F.shiftright(col, MIX_LO_BITS) * F.lit(a3) + F.lit(b3)
    ) % F.lit(SKETCH_P)
    h = h.bitwiseXOR(col.bitwiseAND(F.lit((1 << MIX_LO_BITS) - 1)))
    h = _mix(h, *HASH_ROWS[0])
    for shift, row in zip(MIX_SHIFTS, (HASH_ROWS[1], HASH_ROWS[2], None)):
        h = h.bitwiseXOR(F.shiftright(h, shift))
        if row is not None:
            h = _mix(h, *row)
    return h


#: Character-polynomial base for hashing strings into sketch inputs.
STR_HASH_B = 131


def str_hash(col: Column) -> Column:
    """String → integer < P: left-fold ``acc·131 + codepoint`` over the
    characters, mod P. Essentially injective for short keys; collisions
    merely merge sketch items — both engines agree on which. (This fold
    is itself affine in the character codes, which is why consumers
    still pass the result through ``strong_mix``.) Empty string hashes
    to 0 (the sequence guard matters: Spark's ``sequence(1, 0)`` is a
    DESCENDING [1, 0], not empty)."""
    idx = F.when(
        F.length(col) >= 1, F.sequence(F.lit(1), F.length(col))
    ).otherwise(F.array().cast("array<int>"))
    codes = F.transform(idx, lambda i: F.ascii(F.substring(col, i, F.lit(1))))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(STR_HASH_B) + c.cast("long"))
        % F.lit(SKETCH_P),
    )


# ---------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------

#: 2^HLL_REG_BITS registers; 256 gives ~1.04/sqrt(256) ≈ 6.5% rel error.
HLL_REG_BITS = 8
HLL_M = 1 << HLL_REG_BITS
#: Bits of hash left for the rho (leading-zero) pattern: 31-bit hash
#: minus the register index bits. rho ranges 1..HLL_W_BITS+1.
HLL_W_BITS = 31 - HLL_REG_BITS
#: Standard HLL bias constant for m = 256 — same literal in the oracle.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
#: Linear-counting threshold: raw estimate below 2.5·m with empty
#: registers present → use m·ln(m/V) instead.
HLL_LC_THRESHOLD = 2.5 * HLL_M


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group HLL register table: (group…, reg, rho_max).

    The hash is ``strong_mix`` so register index and rho pattern
    decorrelate from key structure. The aggregate is a plain
    groupBy-max — map-side combinable, at most ``m`` rows per group
    ever cross the shuffle, and register tables from disjoint
    partitions/days merge by the same max. That mergeability is the
    whole point at 100 TB: the sketch is the state, not the rows.
    """
    reg, rho = hll_reg_rho(F.col(value_col))
    return (
        df.select(*group_cols, reg.alias("reg"), rho.alias("rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("rho_max"))
    )


def hll_reg_rho(col: Column) -> tuple[Column, Column]:
    """(register index, rho) expressions for one key — the per-row half
    of the HLL build, exposed separately so STREAMING aggregations can
    reuse it (groupBy window+reg with max(rho) is a valid streaming
    aggregate; the register table is the bounded state)."""
    h = strong_mix(col)
    reg = h % F.lit(HLL_M)
    w = F.floor(h / F.lit(HLL_M)).cast("long")
    # rho = leading zeros in the W-bit pattern + 1 = (W+1) - bit_length.
    # bit_length via length(bin(w)) — exact string length of the binary
    # representation, no float log2 anywhere. w = 0 → max rho (W+1).
    rho = F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    return reg, rho


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Collapse a register table to (group…, hll_estimate).

    The harmonic sum Σ 2^(-rho) is computed as the *integer* sum
    Σ 2^(W+1-rho) — order-independent BIGINT arithmetic (max value
    m·2^(W+1) < 2^32) — with one double division at the end; absent
    registers contribute 2^(W+1) each (rho = 0). Small-range correction
    (linear counting) applies below 2.5·m when empty registers exist,
    matching the published HLL recipe; ln/division ulp differences
    between engines sit far below the 6-sig-fig compare.
    """
    scale = 1 << (HLL_W_BITS + 1)
    # 2^(W+1-rho) as an exact BIGINT shift — no float pow anywhere.
    term = F.expr(
        f"shiftleft(cast(1 as bigint), {HLL_W_BITS + 1} - rho_max)"
    )
    agg = registers.groupBy(*group_cols).agg(
        F.sum(term).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    zeros = F.lit(HLL_M) - F.col("n_present")
    s_total = F.col("s_present") + zeros * F.lit(scale)
    raw = (
        F.lit(HLL_ALPHA * HLL_M * HLL_M * scale) / s_total.cast("double")
    )
    lc = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros.cast("double"))
    est = F.when((raw <= F.lit(HLL_LC_THRESHOLD)) & (zeros > 0), lc).otherwise(
        raw
    )
    return agg.select(*group_cols, est.alias("hll_estimate"))


# ---------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------

#: 2^16 bits, 3 hash rows. For the q61-style benchmark shingle set
#: (~3k members at sf0.01) this sits near 0.13 bits-load → FPR ≈ 2e-3;
#: the positions table is ≤ m rows — always broadcastable.
BLOOM_M = 1 << 16
BLOOM_K = 3


def _bloom_positions_from_mixed(h: Column, m: int = BLOOM_M) -> list[Column]:
    """K bit positions derived from an already-strong-mixed hash by one
    universal round each — cheap, and independent enough once the input
    is well mixed. ``m`` must match between build and probe; the
    oracle generators replay the BLOOM_M default."""
    return [
        (_mix(h, *HASH_ROWS[j]) % F.lit(m)).alias(f"bp{j}")
        for j in range(BLOOM_K)
    ]


def bloom_build(df: DataFrame, value_col: str, *, m: int = BLOOM_M) -> DataFrame:
    """Distinct set bit positions for a member-value frame → (pos).

    This *is* the filter: at most ``m`` rows of one int — a few
    hundred KB broadcast no matter how large the member set was. The
    build is explode-distinct: map-side combinable, output bounded by
    m. The strong mix lands in its own projection so the three
    position expressions read a bound column, not three inlined copies
    of the mixer.

    Size ``m`` to the member-set cardinality: FPR ≈ (fill)^K with
    fill = set-bits/m, so a filter loaded past ~50% stops paying for
    itself (still correct — callers like `bloom_prefiltered_join`
    discard false positives — just no longer selective).
    """
    staged = df.select(strong_mix(F.col(value_col)).alias("__h"))
    pos = F.explode(
        F.array(*_bloom_positions_from_mixed(F.col("__h"), m))
    ).alias("pos")
    return staged.select(pos).distinct()


def bloom_probe(
    df: DataFrame, value_col: str, bloom: DataFrame, out_col: str = "in_bloom"
) -> DataFrame:
    """Membership probe: ``out_col`` true iff ALL K positions of
    ``value_col`` are set. One broadcast left-join per hash row against
    the (tiny) positions frame — the probe side is scanned once, never
    shuffled, which is the right trade when the probe stream is huge
    and the filter is small (the opposite of ``cms_estimate``'s shape).
    The K identical broadcast subtrees collapse to one physical build
    via Spark's ReuseExchange rule. False positives possible (that's
    the contract), false negatives impossible.
    """
    out = df.withColumn("__h", strong_mix(F.col(value_col)))
    hits = []
    for j, c in enumerate(_bloom_positions_from_mixed(F.col("__h"))):
        marked = bloom.select(
            F.col("pos").alias(f"__bq{j}"), F.lit(1).alias(f"__hit{j}")
        )
        out = out.withColumn(f"__p{j}", c).join(
            F.broadcast(marked),
            F.col(f"__p{j}") == F.col(f"__bq{j}"),
            "left",
        )
        hits.append(F.col(f"__hit{j}").isNotNull())
    cond = hits[0]
    for h in hits[1:]:
        cond = cond & h
    drop = (
        ["__h"]
        + [f"__p{j}" for j in range(BLOOM_K)]
        + [f"__bq{j}" for j in range(BLOOM_K)]
        + [f"__hit{j}" for j in range(BLOOM_K)]
    )
    return out.withColumn(out_col, cond).drop(*drop)


# ---------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------

#: d = 4 hash rows × w = 256 counters. Deliberately small so the
#: fixture's ~900 distinct bigrams actually collide — the CMS
#: *overestimate* is visible in the oracle-verified output rather than
#: degenerate. Production sizing: w = ceil(e/ε), d = ceil(ln(1/δ)).
CMS_D = 4
CMS_W = 256


def _cms_probe_structs(h: Column) -> Column:
    """array<struct<row,pos>> of the d counter cells for a mixed hash."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (_mix(h, *HASH_ROWS[j]) % F.lit(CMS_W)).alias("pos"),
            )
            for j in range(CMS_D)
        ]
    )


def cms_counters(df: DataFrame, value_col: str) -> DataFrame:
    """Build the d×w counter grid for an integer-valued stream:
    (row, pos, cnt). One explode to d rows per item, then a
    groupBy-count — map-side combinable, at most d·w rows out
    regardless of input size. Grids from disjoint shards merge by
    summing cnt. The strong mix lands in its own projection (bound
    column, not d inlined mixer copies).
    """
    staged = df.select(strong_mix(F.col(value_col)).alias("__h"))
    return (
        staged.select(F.explode(_cms_probe_structs(F.col("__h"))).alias("rp"))
        .select(F.col("rp.row").alias("row"), F.col("rp.pos").alias("pos"))
        .groupBy("row", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    items: DataFrame, value_col: str, counters: DataFrame
) -> DataFrame:
    """Point-query the grid for each item: adds ``cms_est`` =
    min over the d rows of the item's counter (missing counter → 0).
    Guaranteed cms_est ≥ true count (one-sided error).

    Shape: the item side explodes to its d (row, pos) probes and joins
    the counter grid ONCE — the expensive stream aggregation behind
    ``counters`` is evaluated a single time, where a join-per-hash-row
    would replan it d times. Item rows must be distinct (they are the
    group-back key); intended for small point-query sets — heavy-hitter
    audits, lookups — not for re-scoring a full stream.
    """
    probes = items.withColumn("__h", strong_mix(F.col(value_col))).select(
        "*", F.explode(_cms_probe_structs(F.col("__h"))).alias("__rp")
    )
    cg = counters.select(
        F.col("row").alias("__crow"),
        F.col("pos").alias("__cpos"),
        F.col("cnt").alias("__cnt"),
    )
    joined = probes.join(
        F.broadcast(cg),
        (F.col("__rp.row") == F.col("__crow"))
        & (F.col("__rp.pos") == F.col("__cpos")),
        "left",
    )
    return joined.groupBy(*items.columns).agg(
        F.min(F.coalesce(F.col("__cnt"), F.lit(0).cast("long"))).alias(
            "cms_est"
        )
    )
