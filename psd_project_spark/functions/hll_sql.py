"""Deterministic cross-engine HyperLogLog (distinct-count sketch).

``approx_count_distinct`` is the right 100 TB default for per-column
profiling (bounded sketch state, one scan), but Spark's HLL++ and
DuckDB's HLL are different implementations — their estimates can never
hash-match. This module is the oracle-parity twin: a by-the-book HLL
(Flajolet et al. 2007) whose every step is deterministic identical
arithmetic on BOTH engines, with two implementations of the same
spec:

- **Spark / hot path**: a vectorized numpy kernel
  (:func:`splitmix64_np`, :func:`rho_np`) used from an Arrow-batched
  ``mapInPandas`` that emits per-task PARTIAL register tables — the
  physical shape sketch aggregation should have at scale (state = m
  registers per column per task, never a distinct-value set, never a
  per-row string/md5).
- **DuckDB / oracle**: the same hash and register math as generated
  SQL over HUGEINT mod-2^64 arithmetic (:func:`splitmix_stages_sql`,
  :func:`rho_case_sql`) — slow but exact, and the oracle only runs at
  test SF.

Shared spec (pinned by ``tests/test_table_profile.py`` differentials):

- canonical value → uint64: numerics are pre-scaled integers
  (two's-complement mod 2^64 for negatives); strings fold as a
  base-31 codepoint polynomial ``h = 17; h = h*31 + ord(ch)`` mod 2^64;
- hash = splitmix64 finalizer (public-domain mixing constants);
- register = low ``HLL_B`` bits; rho = leading-zero count of the
  remaining 52 bits + 1 (comparison chain / exact float52 frexp —
  never libm ``log``);
- harmonic sum accumulated as scaled INTEGERS ``2^(RHO_POW − rho)``
  so float summation order cannot drift;
- the small-range linear-counting branch needs ``ln(m/V)`` for integer
  ``V ∈ [1, m]``: ``floor(log2(V))`` is a comparison CASE chain and
  the fractional part a FIXED 6-term atanh series — pure rational
  arithmetic, bit-identical across engines (series truncation < 1e-7
  relative, far below the sketch's ~1.6% standard error at m=4096).
"""

from __future__ import annotations

#: log2 of register count. m=4096 → standard error ≈ 1.04/√m ≈ 1.6%.
HLL_B = 12
HLL_M = 1 << HLL_B
#: Bits feeding rho after the register index is peeled off.
RHO_BITS = 64 - HLL_B
#: Scaled-integer exponent for the harmonic sum: each register
#: contributes ``floor(2^(RHO_POW - rho))`` — exact in int64 for
#: rho ≤ RHO_POW, identically 0 in both engines beyond (p ≈ 2^-50).
RHO_POW = 50
_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
#: alpha · m² · 2^RHO_POW as one Python-computed literal, so both
#: engines parse the identical shortest-repr double.
_RAW_NUM = repr(_ALPHA * HLL_M * HLL_M * float(1 << RHO_POW))
#: Every float literal in generated SQL is wrapped CAST(... AS DOUBLE):
#: bare decimal literals type as DECIMAL in BOTH engines, with
#: different scale/rounding rules — decimal-typed `1.0/3.0` was a real
#: cross-engine divergence (caught by the 1e-9-quantized DSIR weight;
#: the integer-rounded HLL estimate masked it).
_LN2 = "CAST(0.6931471805599453 AS DOUBLE)"
_THIRD = "CAST(0.3333333333333333 AS DOUBLE)"
_FIFTH = "CAST(0.2 AS DOUBLE)"
_SEVENTH = "CAST(0.14285714285714285 AS DOUBLE)"
_NINTH = "CAST(0.1111111111111111 AS DOUBLE)"
_ELEVENTH = "CAST(0.09090909090909091 AS DOUBLE)"
_ONE = "CAST(1.0 AS DOUBLE)"
_TWO = "CAST(2.0 AS DOUBLE)"

_U64 = 1 << 64
_C1 = 0x9E3779B97F4A7C15
_C2 = 0xBF58476D1CE4E5B9
_C3 = 0x94D049BB133111EB
#: Base-31 polynomial seed for string folding.
STR_SEED = 17
STR_BASE = 31


# --------------------------------------------------------------------------
# numpy implementation (Spark kernel hot path)
# --------------------------------------------------------------------------

def splitmix64_np(x):
    """Vectorized splitmix64 finalizer over a uint64 array."""
    import numpy as np

    h = x.astype(np.uint64) + np.uint64(_C1)
    h = (h ^ (h >> np.uint64(30))) * np.uint64(_C2)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(_C3)
    return h ^ (h >> np.uint64(31))


def poly_hash_str(values) -> "list[int]":
    """Base-31 codepoint fold of each string, mod 2^64 (spec above).
    Per-row Python reference implementation; the kernels use
    :func:`poly_hash_str_np` (differential-pinned equal)."""
    mask = _U64 - 1
    out = []
    for s in values:
        h = STR_SEED
        for ch in s:
            h = (h * STR_BASE + ord(ch)) & mask
        out.append(h)
    return out


#: Above this length the vectorized fold's per-position loop stops
#: paying; long rows fall back to the reference loop.
_VEC_MAXLEN = 64


def poly_hash_str_np(values):
    """Vectorized :func:`poly_hash_str`: strings become a fixed-width
    UTF-32 codepoint matrix (numpy 'U' dtype) and the fold runs one
    uint64 pass per character POSITION instead of per character —
    ~len(max) iterations over the whole column. NUL-padded positions
    are masked out, and rows that actually contain U+0000 (would alias
    the padding) or exceed ``_VEC_MAXLEN`` take the reference loop.
    Returns a uint64 array; equality with the reference is pinned by a
    hypothesis differential."""
    import numpy as np

    vals = list(values)
    if not vals:
        return np.zeros(0, np.uint64)
    lens = np.array([len(s) for s in vals], np.int64)
    maxlen = int(lens.max()) if len(lens) else 0
    has_nul = any("\x00" in s for s in vals)
    if maxlen == 0:
        return np.full(len(vals), STR_SEED, np.uint64)
    if maxlen > _VEC_MAXLEN or has_nul:
        return np.array(poly_hash_str(vals), np.uint64)
    arr = np.array(vals, dtype=f"U{maxlen}")
    codes = arr.view(np.uint32).reshape(len(vals), maxlen).astype(np.uint64)
    h = np.full(len(vals), STR_SEED, np.uint64)
    base = np.uint64(STR_BASE)
    for k in range(maxlen):
        active = codes[:, k] != 0
        h = np.where(active, h * base + codes[:, k], h)
    return h


def rho_np(h):
    """rho = leading-zero count of the top RHO_BITS bits + 1, via exact
    float52 frexp (values < 2^52 are exact in float64 — no libm log)."""
    import numpy as np

    h2 = (h >> np.uint64(HLL_B)).astype(np.float64)  # < 2^52: exact
    _, e = np.frexp(h2)  # e = bit_length for h2 > 0, 0 for h2 == 0
    return (RHO_BITS + 1 - e).astype(np.int64)


def register_np(h):
    import numpy as np

    return (h & np.uint64(HLL_M - 1)).astype(np.int64)


# --------------------------------------------------------------------------
# DuckDB-dialect generated SQL (oracle path; HUGEINT mod-2^64)
# --------------------------------------------------------------------------

def u64_sql(x: str) -> str:
    """Two's-complement mapping of a (possibly negative) integer
    expression into [0, 2^64) as HUGEINT."""
    return (
        f"(((CAST({x} AS HUGEINT) % {_U64}) + {_U64}) % {_U64})"
    )


def _mulmod_sql(h: str, c: int) -> str:
    """(h * c) mod 2^64 without overflowing HUGEINT: split ``h`` into
    32-bit halves; each partial product stays < 2^97."""
    lo, hi = f"({h} % 4294967296)", f"({h} // 4294967296)"
    return (
        f"((({lo} * {c}) % {_U64} + (({hi} * {c}) % 4294967296)"
        f" * 4294967296) % {_U64})"
    )


def splitmix_stages_sql(h0: str = "h0"):
    """splitmix64 as ordered (column, expression) stages over a
    HUGEINT column ``h0`` already in [0, 2^64). Final column: ``h``."""
    return [
        ("s1", f"(({h0} + {_C1}) % {_U64})"),
        ("s2", "xor(s1, s1 >> 30)"),
        ("s3", _mulmod_sql("s2", _C2)),
        ("s4", "xor(s3, s3 >> 27)"),
        ("s5", _mulmod_sql("s4", _C3)),
        ("h", "xor(s5, s5 >> 31)"),
    ]


def poly_hash_sql(s: str) -> str:
    """DuckDB twin of :func:`poly_hash_str` (codepoint fold)."""
    codes = (
        f"list_transform(generate_series(1, length({s})), "
        f"psd_i -> CAST(ascii(substring({s}, psd_i, 1)) AS HUGEINT))"
    )
    return (
        f"list_reduce(list_prepend(CAST({STR_SEED} AS HUGEINT), {codes}), "
        f"(psd_a, psd_c) -> (psd_a * {STR_BASE} + psd_c) % {_U64})"
    )


def register_sql(h: str) -> str:
    return f"CAST({h} % {HLL_M} AS INT)"


def rho_case_sql(h: str) -> str:
    """rho from the top RHO_BITS bits — comparison chain, no libm."""
    h2 = f"({h} >> {HLL_B})"
    whens = " ".join(
        f"WHEN {h2} >= {1 << k} THEN {RHO_BITS - k}"
        for k in range(RHO_BITS - 1, -1, -1)
    )
    return f"(CASE {whens} ELSE {RHO_BITS + 1} END)"


# --------------------------------------------------------------------------
# Estimate (portable: runs on BOTH engines as identical arithmetic)
# --------------------------------------------------------------------------

def scaled_inv_expr(r: str) -> str:
    """Integer-scaled ``2^-rho`` register contribution (exact)."""
    return f"CAST(floor(power(CAST(2.0 AS DOUBLE), {RHO_POW} - {r})) AS BIGINT)"


def _floor_log2_expr(v: str) -> str:
    """floor(log2(v)) for integer ``v`` in [1, m] — comparison chain,
    no libm."""
    whens = " ".join(
        f"WHEN {v} >= {1 << k} THEN {k}" for k in range(HLL_B, 0, -1)
    )
    return f"(CASE {whens} ELSE 0 END)"


def ln_int_stages(v: str, out: str, max_bits: int = 31):
    """Deterministic ``ln`` of a positive INTEGER expression ``v`` (<
    2^max_bits) as ordered (column, expression) stages — the same
    libm-free recipe as the HLL small-range branch, generalized:
    ``floor(log2(v))`` by comparison chain, fractional part by the
    fixed 6-term atanh series (relative error < 1e-7 — both engines
    evaluate the identical rational arithmetic, which is the property
    that matters). Final stage column: ``out``. Intermediate column
    names are prefixed with ``out`` so several ln pipelines can share
    one select chain."""
    whens = " ".join(
        f"WHEN {v} >= {1 << k} THEN {k}" for k in range(max_bits, 0, -1)
    )
    k = f"{out}_k"
    w, z, zz = f"{out}_w", f"{out}_z", f"{out}_zz"
    return [
        (k, f"(CASE {whens} ELSE 0 END)"),
        (w, f"(CAST({v} AS DOUBLE) / power({_TWO}, {k}))"),
        (z, f"(({w} - {_ONE}) / ({w} + {_ONE}))"),
        (zz, f"({z} * {z})"),
        (
            out,
            f"({k} * {_LN2} + {_TWO} * {z} * ({_ONE} + {zz} * ({_THIRD} + "
            f"{zz} * ({_FIFTH} + {zz} * ({_SEVENTH} + {zz} * ({_NINTH} + "
            f"{zz} * {_ELEVENTH}))))))",
        ),
    ]


def estimate_stages(n_obs: str = "n_obs", sinv: str = "sinv"):
    """Distinct-count estimate from ``n_obs`` observed registers and
    their scaled harmonic sum ``sinv`` (both integer columns), as an
    ordered list of ``(new_column, expression)`` stages — each
    expression references only columns from earlier stages, so both
    engines evaluate the identical small DAG (Spark: chained
    ``selectExpr``; DuckDB: nested selects) instead of one
    combinatorially-expanded expression.

    Raw HLL estimate with the standard small-range linear-counting
    correction; every floating op is identical literal arithmetic in
    both engines (see module docstring). Final stage column:
    ``n_distinct_approx``.
    """
    m = HLL_M
    return [
        ("v_emp", f"({m} - {n_obs})"),
        (
            "h_total",
            f"({sinv} + CAST({m} - {n_obs} AS BIGINT) * {1 << RHO_POW})",
        ),
        ("kk", _floor_log2_expr("v_emp")),
        ("raw_est", f"(CAST({_RAW_NUM} AS DOUBLE) / CAST(h_total AS DOUBLE))"),
        ("w_frac", f"(CAST(v_emp AS DOUBLE) / power({_TWO}, kk))"),
        ("z_at", f"((w_frac - {_ONE}) / (w_frac + {_ONE}))"),
        ("zz_at", "(z_at * z_at)"),
        (
            "poly_ln",
            f"({_TWO} * z_at * ({_ONE} + zz_at * ({_THIRD} + zz_at * "
            f"({_FIFTH} + zz_at * ({_SEVENTH} + zz_at * ({_NINTH} + "
            f"zz_at * {_ELEVENTH}))))))",
        ),
        (
            # Integer rounding (no digits, then BIGINT): not round_sql's shape.
            "n_distinct_approx",
            f"CAST(CAST(CAST(round(CAST(CAST(CASE WHEN raw_est <= CAST({2.5 * m} AS DOUBLE) "
            f"AND v_emp > 0 "
            f"THEN CAST({m}.0 AS DOUBLE) * (({HLL_B} - kk) * {_LN2} - poly_ln) "
            f"ELSE raw_est END AS STRING) AS DECIMAL(38,21))) AS STRING) AS DOUBLE) AS BIGINT)",
        ),
    ]
