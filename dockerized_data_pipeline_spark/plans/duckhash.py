"""Spark ``xxhash64`` replayed as generated DuckDB SQL (r8).

Why: the near-dup family (MinHash signatures/banding, SimHash) keys on
``F.xxhash64`` -- DuckDB has no xxhash64, so those queries sat in the
rows-only tier as "engine-side hash, not oracle-able". But XXH64 is a
deterministic integer algorithm: for inputs SHORTER THAN 32 BYTES the
stripe loop never runs and the whole hash is a fixed sequence of 64-bit
wrapping multiplies, rotations, and xors -- expressible as a chain of
SQL lateral-alias columns. Spark's variants (spark/sql/catalyst XXH64):

  hashLong(v, seed):  h = seed + P5 + 8; h ^= mix(v); h = rotl(h,27)*P1+P4; fmix
  hashInt(i, seed):   h = seed + P5 + 4; h ^= u32(i)*P1; h = rotl(h,23)*P2+P3; fmix
  hashBytes(b, seed)  [len < 32]: h = seed + P5 + len, then per full 8-byte
                      LE word the hashLong round, one 4-byte round when
                      len%8 >= 4, per-byte rounds for the last len%4
                      bytes, then fmix
  mix(v) = rotl(v*P2, 31) * P1
  fmix(h) = h ^= h>>>33; h *= P2; h ^= h>>>29; h *= P3; h ^= h>>>32
  multi-arg xxhash64(a, b, ...) folds: seed=42, then hash(arg_i, seed=prev)

Arithmetic domain: all values live UNSIGNED in [0, 2^64) as DuckDB
UBIGINTs (see the domain note below the primes). ``tests/test_duckhash.py``
pins every variant against Spark on edge values; byte access assumes
ASCII text (byte == code point -- true for the fixture corpus; a
divergence would hash-fail the oracle gate, never pass silently).

Each builder emits steps into a ``Steps`` accumulator rendered as nested
subqueries -- see Steps' docstring for why neither lateral aliases nor
deep per-step nesting survive DuckDB 1.0's binder/parser.
"""

from __future__ import annotations

P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
M64 = 1 << 64
SIGN = 1 << 63


# All hash state lives in UBIGINT (native unsigned 64-bit): measured 32x
# faster than the HUGEINT (int128) formulation on the same 50-multiply
# chain (0.26s vs 8.25s over 30k rows). UBIGINT has no wrapping
# arithmetic -- overflow raises -- so every add is an explicit
# wrap-by-comparison and every multiply splits operands at 2^32 (all
# partial products fit: (2^32-1)^2 < 2^64). Integer literals must be
# CAST to UBIGINT or DuckDB promotes the whole expression to HUGEINT,
# losing the speedup; constant folding eats the casts.

UMAX = M64 - 1


def _c(n: int) -> str:
    return f"CAST({n} AS UBIGINT)"


def u64_of_i64(e: str) -> str:
    """Signed BIGINT expr -> unsigned UBIGINT in [0, 2^64)."""
    return (
        f"CAST(CAST({e} AS HUGEINT) "
        f"+ CASE WHEN ({e}) < 0 THEN {M64} ELSE 0 END AS UBIGINT)"
    )


def i64_of_u64(e: str) -> str:
    """Unsigned [0, 2^64) -> signed BIGINT (two's complement)."""
    return (
        f"CAST(CASE WHEN ({e}) >= {_c(SIGN)} "
        f"THEN CAST({e} AS HUGEINT) - {M64} "
        f"ELSE CAST({e} AS HUGEINT) END AS BIGINT)"
    )


def _wadd(a: str, b: str) -> str:
    """(a + b) mod 2^64, BRANCH-FREE: DuckDB evaluates both CASE branches
    eagerly on flat vectors, so a conditional wrap-subtract underflows
    UBIGINT on the rows that took the other branch (internal cast error
    observed). Split both operands at 2^63: the low halves sum without
    overflow, the high bits and the low-sum carry fold mod 2."""
    c63 = _c(1 << 63)
    s = f"(({a}) % {c63} + ({b}) % {c63})"
    return (
        f"(((({a}) // {c63} + ({b}) // {c63} + {s} // {c63}) % {_c(2)}) "
        f"* {c63} + {s} % {c63})"
    )


def _wmul(a: str, c: int) -> str:
    """(a * c) mod 2^64 for a CONSTANT multiplier c (every multiply in
    XXH64 is by a prime constant): split both at 2^32; partial products
    stay under 2^64."""
    cl, ch = c % (1 << 32), c >> 32
    two32 = _c(1 << 32)
    t1 = f"(({a}) % {two32}) * {_c(cl)}"
    t2 = (
        f"(((({a}) % {two32}) * {_c(ch)} % {two32} "
        f"+ (({a}) // {two32}) * {_c(cl)} % {two32}) % {two32}) * {two32}"
    )
    return _wadd(f"({t1})", f"({t2})")


def _rotl(x: str, r: int) -> str:
    lo, hi = _c(1 << (64 - r)), _c(1 << r)
    # disjoint bit ranges: the plain + cannot overflow (max = 2^64 - 1)
    return f"((({x}) % {lo}) * {hi} + ({x}) // {lo})"


def _shr(x: str, n: int) -> str:
    return f"(({x}) // {_c(1 << n)})"


def _xor(a: str, b: str) -> str:
    return f"xor({a}, {b})"


class Steps:
    """Accumulates hash steps under a unique prefix, grouped in LEVELS.

    Rendered as NESTED SUBQUERIES (``nest``), one level per group of
    independent steps, never as lateral aliases in one SELECT: DuckDB
    1.0 binds lateral aliases by SUBSTITUTION, so a chain of steps that
    each reference the previous step twice explodes to 2^n expression
    nodes and hangs the binder (measured: 25 chained steps never finish
    binding; 120 nested levels bind in 80 ms). Nesting DEPTH is itself
    bounded by the parser ("memory exhausted" at ~140 levels), so
    independent chains -- the 16 per-seed signature mixes, the 8 band
    hashes -- must run in LOCKSTEP via ``add_level`` (all chains' step k
    in one level) instead of sequentially."""

    def __init__(self, prefix: str):
        self.prefix = prefix
        self.levels: list[list[tuple[str, str]]] = []
        self._n = 0

    def _name(self) -> str:
        name = f"{self.prefix}_{self._n}"
        self._n += 1
        return name

    def add(self, expr: str) -> str:
        return self.add_level([expr])[0]

    def add_level(self, exprs: list[str]) -> list[str]:
        level = [(self._name(), e) for e in exprs]
        self.levels.append(level)
        return [n for n, _ in level]

    def nest(self, base_query: str) -> str:
        """Wrap ``base_query`` in one subquery level per step group; a
        step may reference base columns and all earlier-level names."""
        q = base_query
        for level in self.levels:
            cols = ", ".join(f"{e} AS {n}" for n, e in level)
            q = f"SELECT *, {cols} FROM ({q})"
        return q


def _fmix(s: Steps, h: str) -> str:
    h = s.add(_xor(h, _shr(h, 33)))
    h = s.add(_wmul(h, P2))
    h = s.add(_xor(h, _shr(h, 29)))
    h = s.add(_wmul(h, P3))
    return s.add(_xor(h, _shr(h, 32)))


def _mix_k1(s: Steps, v: str) -> str:
    k = s.add(_wmul(v, P2))
    k = s.add(_rotl(k, 31))
    return s.add(_wmul(k, P1))


def xxh64_long(s: Steps, v_u: str, seed_u: str) -> str:
    """Steps for Spark hashLong; v_u/seed_u are unsigned-domain exprs.
    Returns the unsigned result column name."""
    k = _mix_k1(s, v_u)
    h = s.add(_wadd(_wadd(seed_u, _c(P5)), _c(8)))
    h = s.add(_xor(h, k))
    h = s.add(_wadd(_wmul(_rotl(h, 27), P1), _c(P4)))
    return _fmix(s, h)


def xxh64_ascii(s: Steps, txt: str, seed_u: str) -> str:
    """Steps for Spark hashBytes over the UTF-8 bytes of ``txt``, valid
    for byte length < 32 (no stripe loop). Returns the unsigned result
    column name.

    r10 (found by the Unicode tier): byte access goes through
    ``hex(encode(txt))`` -- two hex digits per UTF-8 BYTE -- instead of
    per-CHARACTER ``ord``, which returned full code points (e.g. 128102
    for an emoji) and both diverged from Spark's byte-wise hash and
    overflowed the UINT64 word assembly. The hex string is padded with
    32 '01' byte pairs so every read is in range; rounds are gated by
    BYTE length so pad bytes never contribute (the gating CASE, not
    evaluation-order luck, is the correctness argument)."""
    sp = s.add(f"hex(encode({txt})) || repeat('01', 32)")
    ln = s.add(f"CAST(octet_length(encode({txt})) AS UBIGINT)")

    def byte(pos_expr: str) -> str:  # 1-based BYTE position
        hx1 = f"substring({sp}, CAST(2 * ({pos_expr}) - 1 AS INTEGER), 1)"
        hx2 = f"substring({sp}, CAST(2 * ({pos_expr}) AS INTEGER), 1)"
        return (
            f"CAST((strpos('0123456789ABCDEF', {hx1}) - 1) * 16"
            f" + (strpos('0123456789ABCDEF', {hx2}) - 1) AS UBIGINT)"
        )

    h = s.add(_wadd(_wadd(seed_u, _c(P5)), ln))
    for j in range(3):  # full 8-byte LE words (len < 32 -> at most 3)
        word = " + ".join(
            f"{byte(str(8 * j + k + 1))} * CAST({1 << (8 * k)} AS UBIGINT)"
            for k in range(8)
        )
        w = s.add(f"({word})")
        k1 = _mix_k1(s, w)
        cond = f"{ln} >= {8 * (j + 1)}"
        h1 = s.add(f"CASE WHEN {cond} THEN {_xor(h, k1)} ELSE {h} END")
        h = s.add(
            f"CASE WHEN {cond} THEN "
            f"{_wadd(_wmul(_rotl(h1, 27), P1), _c(P4))} ELSE {h1} END"
        )
    # one 4-byte round when len % 8 >= 4, at offset 8 * (len // 8)
    word4 = " + ".join(
        f"{byte(f'({ln} // CAST(8 AS UBIGINT)) * CAST(8 AS UBIGINT) + {k + 1}')} "
        f"* CAST({1 << (8 * k)} AS UBIGINT)" for k in range(4)
    )
    w4 = s.add(f"({word4})")
    cond4 = f"{ln} % 8 >= 4"
    h1 = s.add(
        f"CASE WHEN {cond4} THEN {_xor(h, _wmul(w4, P1))} ELSE {h} END"
    )
    h = s.add(
        f"CASE WHEN {cond4} THEN "
        f"{_wadd(_wmul(_rotl(h1, 23), P2), _c(P3))} ELSE {h1} END"
    )
    # trailing len % 4 bytes, one round each, from offset len - len % 4
    for k in range(1, 4):
        b = byte(f"{ln} - ({ln} % 4) + {k}")
        condb = f"{ln} % 4 >= {k}"
        h1 = s.add(
            f"CASE WHEN {condb} THEN {_xor(h, _wmul(b, P5))} ELSE {h} END"
        )
        h = s.add(
            f"CASE WHEN {condb} THEN "
            f"{_wmul(_rotl(h1, 11), P1)} ELSE {h1} END"
        )
    return _fmix(s, h)


SEED42 = _c(42)  # Spark's default xxhash64 seed, already in unsigned domain


# Batch (lockstep) variants: N independent chains advance one step per
# level, keeping parser nesting depth ~constant in N.

def _fmix_batch(s: Steps, hs: list[str]) -> list[str]:
    hs = s.add_level([_xor(h, _shr(h, 33)) for h in hs])
    hs = s.add_level([_wmul(h, P2) for h in hs])
    hs = s.add_level([_xor(h, _shr(h, 29)) for h in hs])
    hs = s.add_level([_wmul(h, P3) for h in hs])
    return s.add_level([_xor(h, _shr(h, 32)) for h in hs])


def xxh64_long_batch(
    s: Steps, v_us: list[str], seed_us: list[str]
) -> list[str]:
    """Lockstep hashLong over parallel (value, seed) chains."""
    ks = s.add_level([_wmul(v, P2) for v in v_us])
    ks = s.add_level([_rotl(k, 31) for k in ks])
    ks = s.add_level([_wmul(k, P1) for k in ks])
    hs = s.add_level([_wadd(_wadd(sd, _c(P5)), _c(8)) for sd in seed_us])
    hs = s.add_level([_xor(h, k) for h, k in zip(hs, ks)])
    hs = s.add_level(
        [_wadd(_wmul(_rotl(h, 27), P1), _c(P4)) for h in hs]
    )
    return _fmix_batch(s, hs)


def xxh64_int_batch(s: Steps, i_u32s: list[str], seed_u: str) -> list[str]:
    """Lockstep hashInt of parallel int constants with one shared seed."""
    h0 = s.add(_wadd(_wadd(seed_u, _c(P5)), _c(4)))
    hs = s.add_level([_xor(h0, _wmul(f"CAST({i} AS UBIGINT)", P1)) for i in i_u32s])
    hs = s.add_level(
        [_wadd(_wmul(_rotl(h, 23), P2), _c(P3)) for h in hs]
    )
    return _fmix_batch(s, hs)


# --------------------------------------------------------------------------
# Pipeline builders: full near-dup oracles on the documents fixture
# --------------------------------------------------------------------------

def _token_hash_cte(src: str = "documents") -> str:
    """(doc, pos, ntok, th) -- xxhash64 of every whitespace token of every
    document of ``src`` (any relation with doc_id, text), th in the
    unsigned domain. Tokenization replays functions/text.py::tokens =
    F.split(text, ' '): single-space split, EMPTY TOKENS KEPT
    (consecutive spaces hash '' like Spark does)."""
    s = Steps("t")
    th = xxh64_ascii(s, "tok", SEED42)
    # hash DISTINCT token strings only, then join back: natural-language
    # vocabularies are tiny next to token counts (the fixture corpus has
    # ~30 distinct words under 2M token positions), so the hash chain
    # runs per WORD TYPE, not per occurrence
    hashed = f"SELECT tok, {th} AS th FROM ({s.nest('SELECT DISTINCT unnest(string_split(text, chr(32))) AS tok FROM ' + src)})"
    return f"""
    SELECT p.doc, p.pos, p.ntok, h.th
    FROM (
      SELECT doc_id AS doc, len(ts) AS ntok,
             unnest(range(1, len(ts) + 1)) AS pos,
             unnest(ts) AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM {src})
    ) p JOIN ({hashed}) h ON p.tok = h.tok"""


def _shingle_hash_cte(n: int = 3) -> str:
    """(doc, sh) DISTINCT unsigned shingle hashes: replays
    operators/dedup.py::minhash_signatures's zip_with fold --
    sh = fold over the n token hashes of xxhash64(acc, next) with the
    hash-of-two-longs chaining hashLong(next, hashLong(acc, 42))."""
    s = Steps("g")
    acc = "a[pos]"
    for off in range(1, n):
        seed_col = xxh64_long(s, acc, SEED42)
        acc = xxh64_long(s, f"a[pos + {off}]", seed_col)
    base = f"""
    SELECT doc, unnest(range(1, GREATEST(ntok - {n - 1}, 0) + 1)) AS pos, a
    FROM (SELECT doc, any_value(ntok) AS ntok,
                 list(th ORDER BY pos) AS a
          FROM tokh GROUP BY doc)
    """
    return f"SELECT DISTINCT doc, {acc} AS sh FROM ({s.nest(base)})"


def _signature_cte(num_hashes: int = 16) -> str:
    """(doc, mh0..mh{k-1}) MinHash signature: per distinct shingle hash,
    the seed-mix xxhash64(sh, i) = hashInt(i, hashLong(sh, 42)) -- the
    hashLong is shared across the k mixes, exactly like Spark computes
    it once per (h, i) pair with a common first fold."""
    s = Steps("m")
    hh = xxh64_long(s, "sh", SEED42)
    mixed = xxh64_int_batch(s, [str(i) for i in range(num_hashes)], hh)
    # the k mixes depend only on the shingle hash: compute per GLOBALLY
    # DISTINCT sh, then join back to (doc, sh) for the per-doc mins
    inner = s.nest("SELECT DISTINCT sh FROM shing")
    mcols = ", ".join(
        f"{i64_of_u64(e)} AS m{i}" for i, e in enumerate(mixed)
    )
    mins = ", ".join(f"MIN(x.m{i}) AS mh{i}" for i in range(num_hashes))
    return f"""
    SELECT g.doc, {mins}
    FROM shing g JOIN (SELECT sh, {mcols} FROM ({inner})) x ON g.sh = x.sh
    GROUP BY g.doc"""


def _banded_cte(bands: int = 8, rows_per_band: int = 2) -> str:
    """(doc, band, sig): band signature = xxhash64(mh_b*r, ..) over the
    band's minhashes (signed longs, unsigned-converted for hashing)."""
    s = Steps("b")
    accs = [SEED42] * bands
    for r in range(rows_per_band):
        vs = [
            u64_of_i64(f"mh{b * rows_per_band + r}") for b in range(bands)
        ]
        accs = xxh64_long_batch(s, vs, accs)
    inner = s.nest("SELECT * FROM sig")
    struct_list = ", ".join(
        f"{{'band': {b}, 's': {i64_of_u64(a)}}}" for b, a in enumerate(accs)
    )
    return f"""
    SELECT doc, u.band AS band, u.s AS sig FROM (
      SELECT doc, unnest([{struct_list}]) AS u FROM ({inner})
    )"""


def _simhash_value_cte() -> str:
    """(doc, simhash): 64 majority bit-votes over the doc's DISTINCT
    token hashes (replays functions/text.py::simhash_token_hashes +
    simhash_votes: +1 when the token hash has bit i set, else -1; bit i
    of the signature is 1 iff the vote is positive)."""
    s = Steps("sh")
    th = xxh64_ascii(s, "tok", SEED42)
    # hash distinct TOKEN STRINGS once, join back to distinct (doc, tok)
    hashed = s.nest(
        "SELECT DISTINCT unnest(string_split(text, chr(32))) AS tok "
        "FROM documents"
    )
    inner = f"""
    SELECT dt.doc, h.hu FROM (
      SELECT DISTINCT doc_id AS doc, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ) dt JOIN (SELECT tok, {th} AS hu FROM ({hashed})) h ON dt.tok = h.tok
    """
    # bit tests on the SIGNED value with native BIGINT & (UBIGINT
    # division by 2^i constants measured ~5x slower); bit 63 is the sign
    votes = ", ".join(
        (
            f"SUM(CASE WHEN hi < 0 THEN 1 ELSE -1 END) AS v{i}"
            if i == 63
            else f"SUM(CASE WHEN (hi & {1 << i}) != 0 THEN 1 ELSE -1 END) AS v{i}"
        )
        for i in range(64)
    )
    mask_sum = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {_c(1 << i)} ELSE {_c(0)} END"
        for i in range(64)
    )
    return f"""
    SELECT doc, {i64_of_u64(f'({mask_sum})')} AS simhash FROM (
      SELECT doc, {votes}
      FROM (SELECT doc, {i64_of_u64("hu")} AS hi FROM ({inner}))
      GROUP BY doc
    )"""


def simhash_signatures_sql() -> str:
    """Oracle for x2_simhash_signatures: (doc_id, simhash)."""
    return (
        f"WITH s AS MATERIALIZED ({_simhash_value_cte()}) "
        f"SELECT doc AS doc_id, simhash FROM s"
    )


def simhash_pairs_sql(max_hamming: int = 3) -> str:
    """Oracle for x2_simhash_neardup_pairs: pigeonhole banding --
    signatures agreeing exactly on one of max_hamming+1 bands are
    candidates; exact hamming (bit_count of xor) filters."""
    bands = max_hamming + 1
    assert 64 % bands == 0
    width = 64 // bands
    band_rows = " UNION ALL ".join(
        f"SELECT doc, simhash, {b} AS band, "
        f"({u64_of_i64('simhash')} // {_c(1 << (b * width))}) "
        f"% {_c(1 << width)} AS bits FROM s"
        for b in range(bands)
    )
    return f"""
WITH s AS MATERIALIZED ({_simhash_value_cte()}),
banded AS MATERIALIZED ({band_rows})
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bits = b.bits AND a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


def neardup_collapse_sql(
    threshold_num: int = 3, threshold_den: int = 10
) -> str:
    """Oracle for x2_neardup_collapse: the XXH64 MinHash-LSH candidates,
    exact n-gram-Jaccard verification on candidates only (string shingle
    sets via list_intersect), min-id connected-component closure
    (RECURSIVE, the r7 SemDeDup recipe), survivors = docs whose closure
    root is themselves."""
    return f"""
WITH RECURSIVE cand AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({minhash_pairs_sql()})
),
shs AS MATERIALIZED (
  SELECT doc_id AS doc,
         list_distinct(
           CASE WHEN len(ts) >= 3 THEN
             list_transform(range(1, len(ts) - 1),
                            i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])
           ELSE CAST([] AS VARCHAR[]) END) AS sset
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
),
ver AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(a.sset, b.sset)) AS i,
           len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset)) AS u
    FROM cand c JOIN shs a ON c.doc_a = a.doc JOIN shs b ON c.doc_b = b.doc
  ) WHERE u > 0 AND i * {threshold_den} >= u * {threshold_num}
),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM ver
  UNION SELECT doc_b, doc_a FROM ver
),
reach(n, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.n, e.t FROM reach JOIN edges e ON reach.r = e.s
),
labels AS (SELECT n AS doc, MIN(r) AS root FROM reach GROUP BY n)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN labels l ON d.doc_id = l.doc
WHERE l.root = l.doc"""


def minhash_pairs_sql(
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    min_est_jaccard_ppm: int = 300_000,
    src: str = "documents",
    max_bucket_size: int | None = None,
) -> str:
    """Full DuckDB replay of minhash_neardup_pairs_native: token hash ->
    shingle fold -> 16-way seed-mix signature -> banded bucket self-join
    -> signature-agreement estimate. Every hash is the generated XXH64
    above, so the output hash-matches Spark exactly.
    ``max_bucket_size`` replays the operator's hot-bucket cap (band rows
    in buckets above the cap drop out before candidate generation)."""
    num_hashes = bands * rows_per_band
    matches = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    capped = ""
    band_src = "banded"
    if max_bucket_size is not None:
        capped = f""",
capped AS MATERIALIZED (
  SELECT doc, band, sig FROM (
    SELECT doc, band, sig, COUNT(*) OVER (PARTITION BY band, sig) AS bs
    FROM banded
  ) WHERE bs <= {max_bucket_size}
)"""
        band_src = "capped"
    return f"""
WITH tokh AS MATERIALIZED ({_token_hash_cte(src)}),
shing AS MATERIALIZED ({_shingle_hash_cte(n)}),
sig AS MATERIALIZED ({_signature_cte(num_hashes)}),
banded AS MATERIALIZED ({_banded_cte(bands, rows_per_band)}){capped},
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM {band_src} a JOIN {band_src} b
    ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
)
SELECT doc_a, doc_b, est_jaccard_ppm FROM (
  SELECT doc_a, doc_b,
         CAST(FLOOR(({matches}) * 1000000.0 / {num_hashes}) AS BIGINT)
           AS est_jaccard_ppm
  FROM cand JOIN sig sa ON cand.doc_a = sa.doc
            JOIN sig sb ON cand.doc_b = sb.doc
) WHERE est_jaccard_ppm >= {min_est_jaccard_ppm}"""


def bucket_profile_sql(
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    max_bucket_size: int = 2,
    src: str = "documents",
) -> str:
    """Oracle for x2_lsh_bucket_skew_profile: the (bucket_size,
    n_buckets, dropped_at_cap) histogram of the banded signature table
    -- the skew diagnostic paired with the hot-bucket cap."""
    num_hashes = bands * rows_per_band
    return f"""
WITH tokh AS MATERIALIZED ({_token_hash_cte(src)}),
shing AS MATERIALIZED ({_shingle_hash_cte(n)}),
sig AS MATERIALIZED ({_signature_cte(num_hashes)}),
banded AS MATERIALIZED ({_banded_cte(bands, rows_per_band)})
SELECT CAST(bs AS BIGINT) AS bucket_size,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       bs > {max_bucket_size} AS dropped_at_cap
FROM (SELECT COUNT(*) AS bs FROM banded GROUP BY band, sig)
GROUP BY bs ORDER BY bs"""


def corpus_prep_neardup_sql(threshold_num: int = 3, threshold_den: int = 10) -> str:
    """Oracle for x7_corpus_prep_neardup, the fuzzy-dedup capstone (r8,
    was rows-only): the x7_corpus_prep_full gates (length band, stopword
    density, Gopher top-unigram repetition, language allowlist, exact
    dedup anchored on min doc_id), then the XXH64 MinHash-LSH collapse
    over the SURVIVORS (candidates -> exact n-gram Jaccard verification
    -> RECURSIVE min-id closure), then the md5 split and per-(lang,
    split) stats. ``_STOP_SQL`` is injected by the caller (plans/llm.py
    owns the stopword list)."""
    pairs_inner = minhash_pairs_sql(src="corpus")
    return f"""
WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
uc AS (SELECT doc_id, unnest(toks) AS tok FROM t),
ucc AS (SELECT doc_id, tok, COUNT(*) AS c FROM uc GROUP BY 1, 2),
rep AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_c
        FROM ucc GROUP BY 1),
scored AS (
  SELECT d.doc_id, d.lang, d.text, rep.n_tokens,
         LEN(list_filter(string_split(d.text, ' '),
                         x -> x IN {{stop_sql}})) AS n_stop,
         CAST(FLOOR(rep.top_c * 1000000.0 / rep.n_tokens) AS BIGINT)
             AS top_token_ppm
  FROM documents d JOIN rep ON d.doc_id = rep.doc_id
),
filtered AS (
  SELECT * FROM scored
  WHERE n_tokens BETWEEN 20 AND 1000
    AND n_stop * 50 >= n_tokens
    AND top_token_ppm < 500000
    AND lang IN ('en', 'de', 'fr', 'es')
),
deduped AS (
  SELECT lang, text, MIN(doc_id) AS doc_id, MAX(n_tokens) AS n_tokens
  FROM filtered GROUP BY lang, text
),
corpus AS MATERIALIZED (SELECT doc_id, text FROM deduped),
cand AS MATERIALIZED (SELECT doc_a, doc_b FROM ({pairs_inner})),
shs AS MATERIALIZED (
  SELECT doc_id AS doc,
         list_distinct(
           CASE WHEN len(ts) >= 3 THEN
             list_transform(range(1, len(ts) - 1),
                            i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])
           ELSE CAST([] AS VARCHAR[]) END) AS sset
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus)
),
ver AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(a.sset, b.sset)) AS i,
           len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset)) AS u
    FROM cand c JOIN shs a ON c.doc_a = a.doc JOIN shs b ON c.doc_b = b.doc
  ) WHERE u > 0 AND i * {threshold_den} >= u * {threshold_num}
),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM ver UNION SELECT doc_b, doc_a FROM ver
),
reach(n, r) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT reach.n, e.t FROM reach JOIN edges e ON reach.r = e.s
),
labels AS (SELECT n AS doc, MIN(r) AS root FROM reach GROUP BY n),
kept AS (
  SELECT d.lang, d.n_tokens, d.doc_id
  FROM deduped d JOIN labels l ON d.doc_id = l.doc
  WHERE l.root = l.doc
),
split_assigned AS (
  SELECT lang, n_tokens, doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM kept
)
SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM split_assigned GROUP BY lang, split"""


def incremental_pairs_sql(
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    min_est_jaccard_ppm: int = 300_000,
) -> str:
    """Oracle for x2_incremental_neardup (r8, was rows-only): the batch
    (doc_id % 10 == 0) probes the corpus index. A document's signature
    does not depend on the corpus/batch split, so the oracle signs ALL
    documents once with the XXH64 pipeline and derives both sides;
    candidates pair the batch's bands against everything else (plus
    batch-batch, deduped by least/greatest with the corpus flavor
    winning), exactly replaying operators/dedup.py::
    incremental_neardup_pairs."""
    num_hashes = bands * rows_per_band
    matches = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
WITH tokh AS MATERIALIZED ({_token_hash_cte()}),
shing AS MATERIALIZED ({_shingle_hash_cte(n)}),
sig AS MATERIALIZED ({_signature_cte(num_hashes)}),
banded AS MATERIALIZED ({_banded_cte(bands, rows_per_band)}),
bb AS (SELECT * FROM banded WHERE doc % 10 = 0),
probe AS (SELECT doc, band, sig, doc % 10 <> 0 AS is_corpus FROM banded),
cand AS (
  SELECT LEAST(a.doc, b.doc) AS doc_a, GREATEST(a.doc, b.doc) AS doc_b,
         MAX(b.is_corpus) AS is_corpus
  FROM bb a JOIN probe b
    ON a.band = b.band AND a.sig = b.sig AND a.doc <> b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, est_jaccard_ppm, pair_type FROM (
  SELECT cand.doc_a, cand.doc_b,
         CAST(FLOOR(({matches}) * 1000000.0 / {num_hashes}) AS BIGINT)
           AS est_jaccard_ppm,
         CASE WHEN cand.is_corpus THEN 'batch_corpus'
              ELSE 'batch_batch' END AS pair_type
  FROM cand JOIN sig sa ON cand.doc_a = sa.doc
            JOIN sig sb ON cand.doc_b = sb.doc
) WHERE est_jaccard_ppm >= {min_est_jaccard_ppm}"""
