"""DuckDB oracle-SQL generators for the webtext hashing operators.

Each generator mirrors the exact integer arithmetic of its Spark twin
in plans/webtext.py (poly-257 rolling hashes mod 2^64 in HUGEINT,
murmur-style finalizers, MinHash permutations mod 2^31-1, SimHash bit
votes), so the driver's value-hash comparison is bit-exact. The SQL is
generated, not handwritten, from the same public constants.
"""

from __future__ import annotations

from . import webtext

# SQL twin of webtext.ws_tokens — token identity for every text
# operator; keep in lockstep with the Python expression
WS_TOKS_SQL = (
    "list_filter(regexp_split_to_array(text, '[ \\t\\r\\n]+'), "
    "t -> length(t) > 0)"
)

_TWO64 = 1 << 64
_TWO63 = 1 << 63
_P31 = (1 << 31) - 1
_MIX_MUL = 0xFF51AFD7ED558CCD
# splitmix64 constants (public, same as sources/pages._splitmix64)
_SM_ADD = 0x9E3779B97F4A7C15
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB


def shingle_hash_list_sql(text_expr: str = "text", k: int = 5) -> str:
    """List of mixed 31-bit shingle hashes of `text_expr` — the SQL twin
    of webtext._shingle_hashes (k-char poly-257 + xor-fold finalizer).
    ASCII corpus: ord(char) == byte."""
    poly = " + ".join(
        f"ord(substr({text_expr}, CAST(i + {j + 1} AS BIGINT), 1)) * {257 ** (k - 1 - j)}"
        for j in range(k)
    )
    # h < 2^41 so the first xor-shift stays in BIGINT; the multiply wraps
    # mod 2^64 in HUGEINT exactly like numpy uint64
    return (
        "list_transform(list_transform(list_transform("
        f"range(0, length({text_expr}) - {k - 1}), i -> {poly}), "
        f"h -> (CAST(xor(h, h // {1 << 33}) AS HUGEINT) * {_MIX_MUL}) % {_TWO64}), "
        f"m -> CAST(xor(m, m // {1 << 29}) % {1 << 31} AS BIGINT))"
    )


def fingerprint_sql(table: str = "documents", k: int = 5) -> str:
    """Oracle for webtext.fingerprint: min shingle hash per doc."""
    return (
        f"SELECT doc_id, CAST(list_min({shingle_hash_list_sql('text', k)}) "
        f"AS BIGINT) AS fingerprint FROM {table}"
    )


def _mulmod64_sql(a_expr: str, const: int) -> str:
    """(a * const) mod 2^64 without overflowing signed INT128: split a
    into 32-bit halves — al*const < 2^96 and (ah * (const mod 2^32))
    mod 2^32 both fit HUGEINT."""
    lo = 1 << 32
    return (
        f"(((({a_expr}) % {lo}) * {const} + "
        f"(((({a_expr}) // {lo}) * {const % lo}) % {lo}) * {lo}) % {_TWO64})"
    )


def _token_hash_sql(tok_var: str = "t") -> str:
    """SQL twin of webtext._token_hashes_u64 for one token: fold
    codepoints with h = h*257 + cp mod 2^64, then splitmix64. Returns a
    HUGEINT expression in [0, 2^64)."""
    cps = (
        f"list_prepend(CAST(0 AS HUGEINT), list_transform("
        f"range(1, length({tok_var}) + 1), i -> "
        f"CAST(ord(substr({tok_var}, CAST(i AS BIGINT), 1)) AS HUGEINT)))"
    )
    fold = f"list_reduce({cps}, (a, b) -> (a * 257 + b) % {_TWO64})"
    x = f"(({fold}) + {_SM_ADD}) % {_TWO64}"
    z1 = _mulmod64_sql(f"xor({x}, ({x}) // {1 << 30})", _SM_M1)
    z2 = _mulmod64_sql(f"xor({z1}, ({z1}) // {1 << 27})", _SM_M2)
    return f"xor({z2}, ({z2}) // {1 << 31})"


def simhash_sql(table: str = "documents") -> str:
    """Oracle for webtext.simhash64: per-bit +/-1 votes over token
    hashes, sign -> bit, reassembled as a signed int64."""
    votes = (
        "list_sum(list_transform(th, h -> CASE WHEN "
        "(h // CAST(power(2, CAST(b AS BIGINT)) AS HUGEINT)) % 2 = 1 "
        "THEN 1 ELSE -1 END))"
    )
    usim = (
        "list_sum(list_transform(range(0, 64), b -> "
        f"CASE WHEN {votes} > 0 THEN CAST(power(2, CAST(b AS BIGINT)) AS HUGEINT) "
        "ELSE CAST(0 AS HUGEINT) END))"
    )
    return (
        "WITH tk AS (SELECT doc_id, "
        # any-whitespace split + empty filter == python str.split()
        "list_filter(regexp_split_to_array(text, '[ \\t\\r\\n]+'), t -> length(t) > 0) AS toks "
        f"FROM {table}), "
        "th AS (SELECT doc_id, "
        f"list_transform(toks, t -> {_token_hash_sql('t')}) AS th, "
        "len(toks) AS n FROM tk), "
        f"s AS (SELECT doc_id, CASE WHEN n = 0 THEN CAST(0 AS HUGEINT) ELSE {usim} END AS u FROM th) "
        f"SELECT doc_id, CAST(CASE WHEN u >= {_TWO63} THEN u - {_TWO64} ELSE u END "
        "AS BIGINT) AS simhash FROM s"
    )


def dup_span_sql(table: str = "documents", k: int = None) -> str:
    """Oracle for webtext.dup_span_stats: identical token hashes
    (_token_hash_sql), identical rolling window hash — whash_i =
    (sum_j th[i+j] * 257^(k-1-j)) mod 2^64, each term via the 32-bit
    split multiply — identical >=2-distinct-docs rule, and dup_frac as
    the same int/int float64 division (bit-exact cross-engine)."""
    kk = int(k) if k is not None else webtext._SPAN_K
    terms = " + ".join(
        _mulmod64_sql(
            f"th[CAST(i + {j} AS BIGINT)]",
            pow(webtext._SPAN_BASE, kk - 1 - j, _TWO64),
        )
        for j in range(kk)
    )
    return (
        f"WITH tk AS (SELECT doc_id, {WS_TOKS_SQL} AS toks FROM {table}), "
        "th AS (SELECT doc_id, "
        f"list_transform(toks, t -> {_token_hash_sql('t')}) AS th, "
        "len(toks) AS n FROM tk), "
        "wl AS (SELECT doc_id, "
        f"list_transform(range(1, greatest(n - {kk} + 2, 1)), i -> ({terms}) % {_TWO64}) "
        "AS whl FROM th), "
        "occ AS (SELECT doc_id, unnest(whl) AS whash FROM wl), "
        "nd AS (SELECT whash, count(DISTINCT doc_id) AS ndd FROM occ GROUP BY whash), "
        "per AS (SELECT o.doc_id, count(*) AS nw, "
        "sum(CASE WHEN ndd >= 2 THEN 1 ELSE 0 END) AS ndup "
        "FROM occ o JOIN nd USING (whash) GROUP BY o.doc_id) "
        f"SELECT d.doc_id, CAST(coalesce(p.nw, 0) AS INTEGER) AS n_windows, "
        "CAST(coalesce(p.ndup, 0) AS BIGINT) AS n_dup_windows, "
        "CASE WHEN p.nw IS NOT NULL THEN "
        "CAST(p.ndup AS DOUBLE) / CAST(p.nw AS DOUBLE) END AS dup_frac "
        f"FROM {table} d LEFT JOIN per p ON d.doc_id = p.doc_id"
    )


def capped_pairs_sql(
    bands_cte: str,
    key_cols: tuple,
    id_col: str,
    a_name: str,
    b_name: str,
    bucket_cap: int | None,
    order_cte: str,
) -> str:
    """SQL twin of webtext._capped_bucket_pairs: candidate pairs from a
    bucket self-join where buckets over `bucket_cap` emit a
    sorted-neighborhood CHAIN — consecutive members in (__ord, id)
    order — instead of the full clique (VERDICT r04 #4; was a min-id
    star through r04). `order_cte` names a CTE providing
    ({id_col}, __ord).
    Mirroring the cap in the oracle means the driver gate exercises
    the cap LOGIC itself (not just 'cap never fires at gate scale')."""
    keys = " AND ".join(f"l.{c} = r.{c}" for c in key_cols)
    if bucket_cap is None:
        return (
            f"SELECT DISTINCT l.{id_col} AS {a_name}, r.{id_col} AS {b_name} "
            f"FROM {bands_cte} l JOIN {bands_cte} r ON {keys} "
            f"AND l.{id_col} < r.{id_col}"
        )
    gkeys = ", ".join(key_cols)
    skeys = " AND ".join(f"s.{c} = x.{c}" for c in key_cols)
    stats = f"(SELECT {gkeys}, count(*) AS __bn FROM {bands_cte} GROUP BY {gkeys})"
    part = ", ".join(f"x.{c}" for c in key_cols)
    return (
        "SELECT DISTINCT * FROM ("
        f"SELECT l.{id_col} AS {a_name}, r.{id_col} AS {b_name} "
        f"FROM (SELECT x.*, s.__bn FROM {bands_cte} x JOIN {stats} s ON {skeys}) l "
        f"JOIN {bands_cte} r ON {keys} AND l.{id_col} < r.{id_col} "
        f"WHERE l.__bn <= {int(bucket_cap)} "
        "UNION ALL "
        f"SELECT least(__prev, {id_col}) AS {a_name}, "
        f"greatest(__prev, {id_col}) AS {b_name} FROM ("
        f"SELECT x.{id_col} AS {id_col}, "
        f"lag(x.{id_col}) OVER (PARTITION BY {part} "
        f"ORDER BY o.__ord, x.{id_col}) AS __prev "
        f"FROM {bands_cte} x JOIN {stats} s ON {skeys} "
        f"JOIN {order_cte} o ON o.{id_col} = x.{id_col} "
        f"WHERE s.__bn > {int(bucket_cap)}"
        ") WHERE __prev IS NOT NULL)"
    )


def minhash_pairs_sql(
    table: str = "documents",
    k: int = 5,
    threshold: float = 0.35,
    bucket_cap: int | None = 1024,
) -> str:
    """Oracle for webtext.minhash_lsh_pairs: identical signatures (32
    perms mod 2^31-1 over the shingle hashes), identical banding (raw
    4-tuple keys), identical bucket-cap chain semantics, exact
    est_jaccard."""
    a, b = webtext._minhash_params()
    perms = ", ".join(
        f"list_min(list_transform(hs, h -> ({int(a[i])} * h + {int(b[i])}) % {_P31}))"
        for i in range(webtext._MINHASH_PERMS)
    )
    rpb = webtext._MINHASH_PERMS // webtext._LSH_BANDS
    band_rows = ", ".join(f"({i})" for i in range(webtext._LSH_BANDS))
    key = " || '_' || ".join(
        f"CAST(sig[{rpb} * band + {j + 1}] AS VARCHAR)" for j in range(rpb)
    )
    pairs = capped_pairs_sql(
        "bands", ("band", "bh"), "doc_id", "doc_a", "doc_b", bucket_cap,
        order_cte="ordk",
    )
    return (
        f"WITH sh AS (SELECT doc_id, {shingle_hash_list_sql('text', k)} AS hs FROM {table}), "
        f"sig AS (SELECT doc_id, [{perms}] AS sig FROM sh), "
        f"bands AS (SELECT doc_id, band, {key} AS bh "
        f"FROM sig, (VALUES {band_rows}) AS bt(band)), "
        # chain order key: the FULL signature string (same concat as
        # Spark's concat_ws('_', sig...); ordering is what matters and
        # the strings are identical cross-engine)
        "ordk AS (SELECT doc_id, array_to_string("
        "list_transform(sig, v -> CAST(v AS VARCHAR)), '_') AS __ord FROM sig), "
        f"pairs AS ({pairs}), "
        "est AS (SELECT p.doc_a, p.doc_b, "
        "CAST(list_sum(list_transform(range(1, 33), i -> "
        "CASE WHEN sa.sig[CAST(i AS BIGINT)] = sb.sig[CAST(i AS BIGINT)] THEN 1 ELSE 0 END)) AS INT) "
        f"/ CAST({webtext._MINHASH_PERMS} AS INT) AS est_jaccard "
        "FROM pairs p JOIN sig sa ON sa.doc_id = p.doc_a "
        "JOIN sig sb ON sb.doc_id = p.doc_b) "
        f"SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}e0"
    )


def simhash_pairs_sql(
    table: str = "documents",
    max_hamming: int = 3,
    bucket_cap: int | None = 1024,
) -> str:
    """Oracle for webtext.simhash_near_dup_pairs: identical fingerprints
    (simhash_sql as a CTE), identical 4 x 16-bit block banding (unsigned
    reinterpretation of the signed int64, then divide/modulo — the SQL
    twin of shiftrightunsigned + mask), identical bucket-cap chain
    semantics, exact bit_count(xor) Hamming rescoring."""
    divisors = ", ".join(
        f"({i}, CAST({1 << (16 * i)} AS HUGEINT))"
        for i in range(webtext._SIMHASH_BANDS)
    )
    pairs = capped_pairs_sql(
        "bands", ("band", "bv"), "doc_id", "doc_a", "doc_b", bucket_cap,
        order_cte="ordk",
    )
    return (
        f"WITH sh AS ({simhash_sql(table)}), "
        "u AS (SELECT doc_id, CAST(CASE WHEN simhash < 0 "
        f"THEN simhash + {_TWO64} ELSE simhash END AS HUGEINT) AS u FROM sh), "
        "bands AS (SELECT doc_id, band, CAST((u // dv) % 65536 AS BIGINT) AS bv "
        f"FROM u, (VALUES {divisors}) AS bt(band, dv)), "
        # chain order key: the SIGNED 64-bit fingerprint, matching the
        # Spark side's order_df exactly
        "ordk AS (SELECT doc_id, simhash AS __ord FROM sh), "
        f"pairs AS ({pairs}) "
        "SELECT p.doc_a, p.doc_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
        "FROM pairs p JOIN sh a ON a.doc_id = p.doc_a "
        "JOIN sh b ON b.doc_id = p.doc_b "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {int(max_hamming)}"
    )


def ngram_pairs_sql(
    table: str = "documents",
    n: int = 3,
    threshold: float = 0.2,
    block_cap: int | None = 1024,
) -> str:
    """Oracle for webtext.ngram_jaccard_pairs: same opening-bigram
    block key, same distinct n-gram sets, same block-cap chain
    semantics (blocks over the cap pair CONSECUTIVE members in
    (|grams|, doc_id) order), exact Jaccard."""
    sizef = (
        "least(CAST(len(p.ga) AS DOUBLE), CAST(len(p.gb) AS DOUBLE)) >= "
        f"{threshold}e0 * greatest(CAST(len(p.ga) AS DOUBLE), CAST(len(p.gb) AS DOUBLE))"
    )
    base = (
        f"WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks FROM {table}), "
        "g AS (SELECT doc_id, "
        "toks[1] || '|' || coalesce(toks[2], '') AS block, "
        f"list_distinct(list_transform(range(0, greatest(len(toks) - {n}, 0) + 1), "
        f"i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' '))) AS grams FROM t), "
    )
    if block_cap is None:
        pairs = (
            "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "a.grams AS ga, b.grams AS gb "
            "FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id) "
        )
    else:
        pairs = (
            "s AS (SELECT block, count(*) AS __bn FROM g GROUP BY block), "
            "ch AS (SELECT x.doc_id, x.grams, "
            "lag(x.doc_id) OVER w AS pid, lag(x.grams) OVER w AS pg "
            "FROM g x JOIN s ON x.block = s.block "
            f"WHERE s.__bn > {int(block_cap)} "
            "WINDOW w AS (PARTITION BY x.block ORDER BY len(x.grams), x.doc_id)), "
            "p AS ("
            "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.grams AS ga, b.grams AS gb "
            "FROM g a JOIN s ON a.block = s.block "
            f"AND s.__bn <= {int(block_cap)} "
            "JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id "
            "UNION ALL "
            "SELECT CASE WHEN pid < doc_id THEN pid ELSE doc_id END AS doc_a, "
            "CASE WHEN pid < doc_id THEN doc_id ELSE pid END AS doc_b, "
            "CASE WHEN pid < doc_id THEN pg ELSE grams END AS ga, "
            "CASE WHEN pid < doc_id THEN grams ELSE pg END AS gb "
            "FROM ch WHERE pid IS NOT NULL) "
        )
    return (
        base
        + pairs
        + ", j AS (SELECT doc_a, doc_b, "
        "CAST(len(list_intersect(p.ga, p.gb)) AS DOUBLE) / "
        "CAST(len(list_distinct(list_concat(p.ga, p.gb))) AS DOUBLE) AS jaccard "
        f"FROM p WHERE {sizef}) "
        f"SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= {threshold}e0"
    )


# quantized-embedding SQL fragment — derived from webtext._QSCALE so the
# Python/Catalyst quantization and every oracle stay in lockstep
def _quant_list_sql(list_expr: str) -> str:
    return (
        f"list_transform({list_expr}, "
        f"x -> FLOOR(x * {webtext._QSCALE!r}e0 + 0.5e0))"
    )


def _plane_literal_sql(plane) -> str:
    """Hyperplane vector as a DuckDB DOUBLE[] literal. Every component
    goes through CAST('<repr>' AS DOUBLE) per the repo's oracle-decimal
    rule (bare decimals parse as DECIMAL)."""
    return "[" + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in plane) + "]"


def ann_lsh_sql(
    query_ids,
    k: int = 10,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
    table: str = "embeddings",
    round_digits: int = 5,
) -> str:
    """Oracle for webtext.lsh_bucket_ann with pinned (n_tables,
    n_planes): the seeded hyperplanes are embedded as float literals
    (repr round-trips to the identical double), bucket bits are the
    same sign tests, candidates the same distinct bucket join, and
    ranking uses the cosine ROUNDed to `round_digits` with id tiebreak
    (the same convention that makes ann_cosine_top10 cross-engine
    stable)."""
    planes = webtext.lsh_planes(n_tables, n_planes, dim)
    selects = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_plane_literal_sql(planes[t][j])}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(n_planes)
        )
        selects.append(f"SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM e")
    b = " UNION ALL ".join(selects)
    qset = ", ".join(str(int(q)) for q in query_ids)
    return (
        f"WITH e AS (SELECT vec_id, "
        f"{_quant_list_sql('CAST(embedding AS DOUBLE[])')} AS v FROM {table}), "
        f"b AS ({b}), "
        f"qb AS (SELECT vec_id AS query_id, tbl, bucket FROM b WHERE vec_id IN ({qset})), "
        "cand AS (SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id "
        "FROM qb q JOIN b ON b.tbl = q.tbl AND b.bucket = q.bucket "
        "AND b.vec_id != q.query_id), "
        "scored AS (SELECT c.query_id, c.neighbor_id, "
        f"ROUND(list_dot_product(eq.v, en.v) / "
        "(sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(en.v, en.v))), "
        f"{round_digits}) AS cs "
        "FROM cand c JOIN e eq ON eq.vec_id = c.query_id "
        "JOIN e en ON en.vec_id = c.neighbor_id) "
        "SELECT query_id, neighbor_id, "
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS INT) AS rank "
        f"FROM scored QUALIFY rank <= {k}"
    )


def ann_ivf_sql(
    query_ids,
    centroids,
    k: int = 10,
    n_probe: int = 4,
    table: str = "embeddings",
    round_digits: int = 5,
) -> str:
    """Oracle for webtext.ivf_ann with pinned trained centroids
    (VERDICT r02 'Next round' #1): the quantized centroids are embedded
    as a literal VALUES table, and DuckDB replays the identical serving
    arithmetic — assignment by argmax of dot(v,c)/|c| (exact integer dot
    product, one correctly-rounded sqrt + divide, list_id tiebreak),
    n_probe list selection with the same ordering, distinct candidate
    join, and quantized rounded-cosine rescoring with id tiebreak."""
    cvals = ", ".join(
        f"({i}, {_plane_literal_sql(centroids[i])})" for i in range(len(centroids))
    )
    qset = ", ".join(str(int(q)) for q in query_ids)
    score = "list_dot_product(e.v, c.cv) / sqrt(list_dot_product(c.cv, c.cv))"
    return (
        f"WITH e AS (SELECT vec_id, "
        f"{_quant_list_sql('CAST(embedding AS DOUBLE[])')} AS v FROM {table}), "
        f"c AS (SELECT * FROM (VALUES {cvals}) AS t(list_id, cv)), "
        f"s AS (SELECT e.vec_id, c.list_id, {score} AS s FROM e, c), "
        "a AS (SELECT vec_id, list_id FROM s "
        "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, list_id) = 1), "
        f"p AS (SELECT vec_id AS query_id, list_id FROM s WHERE vec_id IN ({qset}) "
        f"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, list_id) <= {int(n_probe)}), "
        "cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id "
        "FROM p JOIN a ON a.list_id = p.list_id AND a.vec_id != p.query_id), "
        "scored AS (SELECT c2.query_id, c2.neighbor_id, "
        "ROUND(list_dot_product(eq.v, en.v) / "
        "(sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(en.v, en.v))), "
        f"{round_digits}) AS cs "
        "FROM cand c2 JOIN e eq ON eq.vec_id = c2.query_id "
        "JOIN e en ON en.vec_id = c2.neighbor_id) "
        "SELECT query_id, neighbor_id, "
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS INT) AS rank "
        f"FROM scored QUALIFY rank <= {int(k)}"
    )


def embedding_near_dup_sql(
    threshold: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
    table: str = "embeddings",
    round_digits: int = 5,
    bucket_cap: int | None = 1024,
) -> str:
    """Oracle for webtext.embedding_near_dup_pairs: same literal
    hyperplanes / bucket bits / chain-capped pair join (ordered by the
    id, matching the Spark side) / rounded cosine."""
    planes = webtext.lsh_planes(n_tables, n_planes, dim)
    selects = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_plane_literal_sql(planes[t][j])}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(n_planes)
        )
        selects.append(f"SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM e")
    b = " UNION ALL ".join(selects)
    pairs = capped_pairs_sql(
        "b", ("tbl", "bucket"), "vec_id", "vec_a", "vec_b", bucket_cap,
        order_cte="ordk",
    )
    return (
        f"WITH e AS (SELECT vec_id, "
        f"{_quant_list_sql('CAST(embedding AS DOUBLE[])')} AS v FROM {table}), "
        f"b AS ({b}), "
        "ordk AS (SELECT vec_id, vec_id AS __ord FROM e), "
        f"pairs AS ({pairs}), "
        "scored AS (SELECT p.vec_a, p.vec_b, "
        f"ROUND(list_dot_product(ea.v, eb.v) / "
        "(sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), "
        f"{round_digits}) AS cos_sim "
        "FROM pairs p JOIN e ea ON ea.vec_id = p.vec_a "
        "JOIN e eb ON eb.vec_id = p.vec_b) "
        f"SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= {threshold}e0"
    )


def components_sql(pairs_sql: str, a_col: str = "doc_a", b_col: str = "doc_b") -> str:
    """Oracle for plans/components.connected_components over the pair
    set produced by `pairs_sql`: WITH RECURSIVE min-label reachability.
    The component fixpoint (min node id reachable in the undirected
    pair graph) is engine-independent, so even this ITERATIVE operator
    gets a value-exact gate."""
    return (
        f"WITH RECURSIVE p AS ({pairs_sql}), "
        f"e AS (SELECT {a_col} AS src, {b_col} AS dst FROM p "
        f"UNION SELECT {b_col} AS src, {a_col} AS dst FROM p), "
        "n AS (SELECT DISTINCT src AS node FROM e), "
        "cc AS (SELECT node, node AS lab FROM n "
        "UNION SELECT e.dst AS node, cc.lab FROM cc JOIN e ON e.src = cc.node) "
        "SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(lab) AS BIGINT) AS component_id "
        "FROM cc GROUP BY node"
    )


def dedup_keep_best_sql(
    table: str = "documents", threshold: float = 0.35, bucket_cap: int | None = 1024
) -> str:
    """Oracle for webtext.dedup_keep_best: the components fixpoint
    (components_sql over minhash_pairs_sql) nested as a derived table,
    singleton components via LEFT JOIN + coalesce, identical
    (length desc, doc_id) ranking."""
    comp = components_sql(minhash_pairs_sql(table, threshold=threshold, bucket_cap=bucket_cap))
    return (
        f"WITH comp AS (SELECT * FROM ({comp}) t), "
        f"lab AS (SELECT d.doc_id, length(d.text) AS n, "
        "coalesce(c.component_id, d.doc_id) AS component_id "
        f"FROM {table} d LEFT JOIN comp c ON c.doc_id = d.doc_id) "
        "SELECT doc_id, component_id, "
        "(row_number() OVER (PARTITION BY component_id ORDER BY n DESC, doc_id) = 1) AS keep "
        "FROM lab"
    )


def decontaminate_split_sql(
    table: str = "documents", threshold: float = 0.35, bucket_cap: int | None = 1024
) -> str:
    """Oracle for webtext.decontaminate_split: components fixpoint +
    the hash-split expression + a per-component any-eval window —
    train rows kept iff their near-dup component is eval-free."""
    from . import multimodal_sql as mm_sql

    comp = components_sql(minhash_pairs_sql(table, threshold=threshold, bucket_cap=bucket_cap))
    bp = (
        "CAST("
        + mm_sql.splitmix64_sql(
            "CASE WHEN doc_id < 0 THEN CAST(doc_id AS HUGEINT) + "
            f"{_TWO64} ELSE CAST(doc_id AS HUGEINT) END"
        )
        + " % 10000 AS BIGINT)"
    )
    return (
        f"WITH comp AS (SELECT * FROM ({comp}) t), "
        f"sp AS (SELECT doc_id, CASE WHEN {bp} < 9800 THEN 'train' "
        f"WHEN {bp} < 9900 THEN 'val' ELSE 'test' END AS split FROM {table}), "
        "lab AS (SELECT s.doc_id, s.split, "
        "coalesce(c.component_id, s.doc_id) AS component_id "
        "FROM sp s LEFT JOIN comp c ON c.doc_id = s.doc_id), "
        "he AS (SELECT doc_id, split, component_id, "
        "max(CASE WHEN split != 'train' THEN 1 ELSE 0 END) "
        "OVER (PARTITION BY component_id) AS has_eval FROM lab) "
        "SELECT doc_id, split, component_id, "
        "(split != 'train' OR has_eval = 0) AS keep FROM he"
    )


def multimodal_features_sql(table: str = "documents") -> str:
    """Oracle for plans/multimodal.extract_media_features over
    synth_media: the synthetic payload is the utf-8 bytes of
    sha256(doc_id), so DuckDB replays the fake-decode stats exactly —
    every intermediate of the 64-byte mean/std is an exactly
    representable dyadic rational in float64, so no rounding is needed
    for bit parity."""
    return (
        "WITH m AS (SELECT doc_id, "
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png' "
        "WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type, "
        "doc_id % 640 + 32 AS w, doc_id % 480 + 24 AS h, "
        f"sha256(CAST(doc_id AS VARCHAR)) AS hex FROM {table}), "
        "c AS (SELECT doc_id, media_type, w, h, "
        "list_transform(range(1, length(hex) + 1), "
        "i -> ord(substr(hex, CAST(i AS INT), 1))) AS cps FROM m), "
        "s AS (SELECT doc_id, media_type, w, h, cps, "
        "list_avg(cps) AS feat_mean FROM c) "
        "SELECT doc_id, media_type, feat_mean, "
        "sqrt(list_avg(list_transform(cps, "
        "x -> (x - feat_mean) * (x - feat_mean)))) AS feat_std, "
        "CAST(w AS DOUBLE) / CAST(h AS DOUBLE) AS aspect FROM s"
    )


def strip_html_sql(html_expr: str, table: str = "documents") -> str:
    """Oracle for webtext.strip_html: the identical strip chain in
    DuckDB (regexp_replace with 'gis'/'g' flags instead of inline
    (?is); same entity order, ampersand last)."""
    c = html_expr
    for blk in ("script", "style"):
        c = f"regexp_replace({c}, '<{blk}[^>]*>.*?</{blk}>', ' ', 'gis')"
    c = f"regexp_replace({c}, '<[^>]+>', ' ', 'g')"
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        c = f"replace({c}, '{ent}', '{ch}')"
    c = f"trim(regexp_replace({c}, '[ \\t\\r\\n]+', ' ', 'g'))"
    return (
        f"SELECT doc_id, {c} AS clean_text, "
        f"CAST(length({html_expr}) - length({c}) AS BIGINT) AS n_stripped_chars "
        f"FROM {table}"
    )


def bm25_sql(
    terms: tuple,
    stats: dict,
    table: str = "documents",
    k: int = 10,
    wide: bool | None = None,
) -> str:
    """Oracle for webtext.bm25_topk: the identical integer-ratio
    serving arithmetic over the same pinned quantized idf literals,
    with the per-term sum generated in the same fixed order. Past the
    int64 corpus bound (webtext.bm25_wide_needed — the SAME predicate
    the Spark side auto-switches on) the products run in HUGEINT, the
    twin of Spark's decimal(38,0) widening: both are exact integers
    until the final cast-to-double, which is correctly rounded in both
    engines."""
    from . import webtext

    n_docs, n_tokens = int(stats["n_docs"]), int(stats["n_tokens"])
    if wide is None:
        wide = webtext.bm25_wide_needed(stats)
    cast_t = "HUGEINT" if wide else "BIGINT"
    toks = WS_TOKS_SQL
    parts = []
    for t in terms:
        idf = int(stats["idf_q"][t])
        esc = t.replace("'", "''")
        tf = f"CAST(len(list_filter(toks, x -> x = '{esc}')) AS {cast_t})"
        num = f"CAST(CAST({idf} AS {cast_t}) * {tf} * 22 * CAST({n_tokens} AS {cast_t}) AS DOUBLE)"
        den = (
            f"CAST(CAST(10 AS {cast_t}) * {tf} * CAST({n_tokens} AS {cast_t}) "
            f"+ CAST(3 AS {cast_t}) * CAST({n_tokens} AS {cast_t}) "
            f"+ CAST(9 AS {cast_t}) * CAST(dl AS {cast_t}) * CAST({n_docs} AS {cast_t}) AS DOUBLE)"
        )
        parts.append(f"({num} / {den})")
    score = " + ".join(parts)
    # left-to-right association matches the Spark fold: ((0+t1)+t2)+t3
    score = "0e0 + " + score if parts else "0e0"
    return (
        f"WITH d AS (SELECT doc_id, {toks} AS toks FROM {table}), "
        "dd AS (SELECT doc_id, toks, len(toks) AS dl FROM d), "
        f"s AS (SELECT doc_id, {score} AS score FROM dd) "
        "SELECT doc_id, score, "
        "CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank "
        "FROM s WHERE score > 0 ORDER BY score DESC, doc_id LIMIT "
        f"{int(k)}"
    )


def lm_score_sql(model: dict, table: str = "documents") -> str:
    """Oracle for webtext.lm_score: the same pinned quantized vocab as
    a VALUES table, LEFT JOIN + group-by in DuckDB's join engine —
    independent of Spark's broadcast-hash path, identical integers."""
    values = ", ".join(
        f"('{tok.replace(chr(39), chr(39) * 2)}', {int(lp)})"
        for tok, lp in model["vocab"].items()
    )
    oov = int(model["oov_lp_q"])
    toks = WS_TOKS_SQL
    return (
        f"WITH base AS (SELECT doc_id, {toks} AS toks FROM {table}), "
        "t AS (SELECT doc_id, unnest(toks) AS token FROM base), "
        f"j AS (SELECT t.doc_id, coalesce(v.lp_q, {oov}) AS lp "
        f"FROM t LEFT JOIN (VALUES {values}) AS v(token, lp_q) "
        "ON v.token = t.token), "
        "a AS (SELECT doc_id, count(*) AS n, sum(lp) AS s FROM j GROUP BY doc_id) "
        "SELECT base.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens, "
        "CAST(coalesce(a.s, 0) AS BIGINT) AS sum_lp_q "
        "FROM base LEFT JOIN a USING (doc_id)"
    )


def best_doc_per_source_sql(model: dict, table: str = "documents", k: int = 1) -> str:
    """Oracle for webtext.best_doc_per_source: lm_score_sql as a CTE +
    the same single-division ranking in DuckDB's window engine."""
    return (
        f"WITH s AS ({lm_score_sql(model, table)}), "
        "j AS (SELECT d.source, s.doc_id, s.n_tokens, s.sum_lp_q, "
        "CAST(s.sum_lp_q AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) AS mean_lp "
        f"FROM s JOIN {table} d ON d.doc_id = s.doc_id WHERE s.n_tokens > 0) "
        "SELECT source, doc_id, n_tokens, sum_lp_q, mean_lp, "
        "CAST(row_number() OVER (PARTITION BY source "
        "ORDER BY mean_lp DESC, doc_id) AS BIGINT) AS rank "
        f"FROM j QUALIFY rank <= {int(k)}"
    )


# ---------------------------------------------------------------------------
# PII redaction / stratified sampling / mixture weights / HLL sketch
# ---------------------------------------------------------------------------


def _pii_aug_sql(table_alias: str = "") -> str:
    """SQL twin of webtext.pii_augmented_text — the deterministic
    PII-bearing augmentation derived from (text, doc_id)."""
    return (
        "(text || ' user' || CAST(doc_id AS VARCHAR)"
        " || '@m' || CAST(doc_id % 7 AS VARCHAR)"
        " || '.co ip 10.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)"
        " || '.9 tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || CASE WHEN doc_id % 3 = 0"
        " THEN ' alt' || CAST(doc_id AS VARCHAR) || '@ex.org'"
        " ELSE ' no-at.example' END)"
    )


def pii_redact_sql(table: str = "documents") -> str:
    """Oracle for webtext.pii_redact — identical regexes (shared
    Java-regex/RE2 subset), identical sequential redaction stages."""
    email = webtext.PII_EMAIL_RE
    ipv4 = webtext.PII_IPV4_RE
    phone = webtext.PII_PHONE_RE
    return (
        f"WITH a AS (SELECT doc_id, {_pii_aug_sql()} AS aug FROM {table}), "
        f"r AS (SELECT doc_id, aug, "
        f"regexp_replace(aug, '{email}', '<EMAIL>', 'g') AS r1 FROM a), "
        f"r2t AS (SELECT doc_id, aug, r1, "
        f"regexp_replace(r1, '{ipv4}', '<IP>', 'g') AS r2 FROM r) "
        f"SELECT doc_id, "
        f"CAST(len(regexp_extract_all(aug, '{email}')) AS BIGINT) AS n_email, "
        f"CAST(len(regexp_extract_all(r1, '{ipv4}')) AS BIGINT) AS n_ipv4, "
        f"CAST(len(regexp_extract_all(r2, '{phone}')) AS BIGINT) AS n_phone, "
        f"CAST(length(regexp_replace(r2, '{phone}', '<PHONE>', 'g')) AS BIGINT) "
        f"AS red_len FROM r2t"
    )


def sample_stratified_sql(table: str = "documents") -> str:
    """Oracle for webtext.sample_stratified — same splitmix64 basis
    points as _hash_split_oracle, same rate schedule."""
    from . import multimodal_sql as mm_sql

    bp = (
        "CAST("
        + mm_sql.splitmix64_sql(
            "CASE WHEN doc_id < 0 THEN CAST(doc_id AS HUGEINT) + "
            f"{1 << 64} ELSE CAST(doc_id AS HUGEINT) END"
        )
        + " % 10000 AS BIGINT)"
    )
    return (
        f"WITH k AS (SELECT source, "
        "CAST(10000 // (1 + CAST(substr(source, 4) AS BIGINT) % 4) AS BIGINT) "
        "AS rate_bp, "
        f"CASE WHEN {bp} < 10000 // (1 + CAST(substr(source, 4) AS BIGINT) % 4) "
        f"THEN 1 ELSE 0 END AS kept FROM {table}) "
        "SELECT source, rate_bp, CAST(count(*) AS BIGINT) AS n_total, "
        "CAST(sum(kept) AS BIGINT) AS n_kept FROM k GROUP BY source, rate_bp"
    )


def mix_weights_sql(table: str = "documents") -> str:
    """Oracle for webtext.mix_weights — per-source token totals, then
    the SAME two single int/int double divisions."""
    return (
        f"WITH tk AS (SELECT source, "
        f"CAST(len({WS_TOKS_SQL}) AS BIGINT) AS t FROM {table}), "
        "p AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(t) AS BIGINT) AS n_tokens FROM tk GROUP BY source) "
        "SELECT source, n_docs, n_tokens, "
        "CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) "
        "AS tok_share, "
        "CAST(sum(n_tokens) OVER () AS DOUBLE) / "
        "CAST(count(*) OVER () * n_tokens AS DOUBLE) AS mix_weight FROM p"
    )


def hll_distinct_sql(table: str = "documents") -> str:
    """Oracle for webtext.hll_distinct_tokens — same token hash,
    register/rho layout, exact HUGEINT register fold, and the single
    alpha-literal / double division."""
    m = webtext._HLL_M
    alpha = repr(webtext._hll_alpha_const())
    rho = (
        "CASE WHEN w = 0 THEN 57 "
        "ELSE 57 - length(bin(CAST(w AS BIGINT))) END"
    )
    return (
        f"WITH tk AS (SELECT source, {WS_TOKS_SQL} AS toks FROM {table}), "
        f"th AS (SELECT source, unnest(list_transform(toks, t -> "
        f"{_token_hash_sql('t')})) AS h FROM tk), "
        f"rr AS (SELECT source, CAST(h % {m} AS INT) AS register, "
        f"h // {m} AS w FROM th), "
        f"rg AS (SELECT source, register, MAX({rho}) AS rho "
        "FROM rr GROUP BY source, register), "
        "s AS (SELECT source, CAST(count(*) AS BIGINT) AS m_hit, "
        "SUM(CAST(power(2, 64 - rho) AS HUGEINT)) AS s_hit "
        "FROM rg GROUP BY source), "
        f"e AS (SELECT source, m_hit, "
        f"s_hit + ({m} - m_hit) * CAST({1 << 64} AS HUGEINT) AS ssum, "
        f"CAST({alpha} AS DOUBLE) / "
        f"CAST(s_hit + ({m} - m_hit) * CAST({1 << 64} AS HUGEINT) AS DOUBLE) "
        "AS raw FROM s) "
        "SELECT source, m_hit, CAST(ssum AS VARCHAR) AS sketch_sum, "
        f"CASE WHEN raw <= {repr(2.5 * m)} AND m_hit < {m} "
        f"THEN {_lc_table_sql(m)}[{m} - m_hit] ELSE raw END AS est_distinct "
        "FROM e"
    )


def _lc_table_sql(m: int) -> str:
    """The precomputed linear-counting literal list (webtext
    ._hll_lc_table), 1-indexed by the number of zero registers.
    Each entry is CAST('<repr>' AS DOUBLE): a bare decimal literal
    would parse as DECIMAL and round-trip a ulp off (the repo-wide
    DuckDB-literal rule, CLAUDE.md)."""
    return (
        "["
        + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in webtext._hll_lc_table(m))
        + "]"
    )


# ---------------------------------------------------------------------------
# URL/domain rollups, per-domain caps, histograms, count-min sketch
# ---------------------------------------------------------------------------


def _synth_url_sql(id_expr: str = "doc_id", src_expr: str = "source") -> str:
    """SQL twin of webtext.synth_url — deterministic URL from
    (id_expr, src_expr)."""
    tlds = "[" + ", ".join(f"'{t}'" for t in webtext._URL_TLDS) + "]"
    return (
        f"('https://' || CASE WHEN {id_expr} % 5 = 0 THEN 'www.' ELSE '' END"
        f" || 'site' || CAST({id_expr} % 97 AS VARCHAR) || '.'"
        f" || {tlds}[CAST({id_expr} % 4 AS INT) + 1]"
        f" || CASE WHEN {id_expr} % 3 = 0 THEN '/a/b' ELSE '/a' END"
        f" || CASE WHEN {id_expr} % 4 = 0 THEN '?q=' || {src_expr} ELSE '' END)"
    )


def url_domain_stats_sql(table: str = "documents") -> str:
    """Oracle for webtext.url_domain_stats — identical regex chain
    (shared Java-regex/RE2 subset), identical rollup."""
    return (
        f"WITH u AS (SELECT n_chars, {_synth_url_sql()} AS url FROM {table}), "
        "p AS (SELECT n_chars, url, "
        "regexp_replace(regexp_extract(url, 'https?://([^/?]+)', 1), "
        "'^www\\.', '') AS domain, "
        "regexp_extract(url, 'https?://[^/?]+([^?]*)', 1) AS path FROM u), "
        "q AS (SELECT n_chars, domain, "
        "regexp_extract(domain, '\\.([A-Za-z]+)$', 1) AS tld, "
        "CAST(length(path) - length(replace(path, '/', '')) AS BIGINT) AS depth, "
        "CASE WHEN contains(url, '?') THEN 1 ELSE 0 END AS hq FROM p) "
        "SELECT tld, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(count(DISTINCT domain) AS BIGINT) AS n_domains, "
        "CAST(sum(hq) AS BIGINT) AS n_with_query, "
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
        "CAST(max(depth) AS BIGINT) AS max_depth "
        "FROM q GROUP BY tld"
    )


def domain_cap_sql(table: str = "documents", k: int = 10) -> str:
    """Oracle for webtext.domain_cap — same splitmix64 hash converted
    to SIGNED int64 so the ORDER BY matches Spark's long ordering."""
    from . import multimodal_sql as mm_sql

    sm = mm_sql.splitmix64_sql(
        "CASE WHEN doc_id < 0 THEN CAST(doc_id AS HUGEINT) + "
        f"{1 << 64} ELSE CAST(doc_id AS HUGEINT) END"
    )
    return (
        f"WITH h0 AS (SELECT doc_id, source, {sm} AS hu FROM {table}), "
        f"h AS (SELECT doc_id, source, CASE WHEN hu >= {1 << 63} "
        f"THEN CAST(hu - {1 << 64} AS BIGINT) ELSE CAST(hu AS BIGINT) END "
        "AS hh FROM h0) "
        "SELECT doc_id, source, CAST(row_number() OVER "
        "(PARTITION BY source ORDER BY hh, doc_id) AS BIGINT) AS rk "
        f"FROM h QUALIFY rk <= {int(k)}"
    )


def length_histogram_sql(table: str = "documents") -> str:
    """Oracle for webtext.length_histogram — same bin arithmetic
    (n_chars >= 0, so floor-div == trunc-div)."""
    w, nb = webtext._HIST_BIN_W, webtext._HIST_NBINS
    return (
        f"WITH b AS (SELECT lang, least(n_chars // {w}, {nb - 1}) AS bin "
        f"FROM {table}) "
        "SELECT lang, CAST(bin AS BIGINT) AS bin, "
        f"CAST(bin * {w} AS BIGINT) AS lo, "
        "CAST(count(*) AS BIGINT) AS n FROM b GROUP BY lang, bin"
    )


def cms_heavy_hitters_sql(table: str = "documents") -> str:
    """Oracle for webtext.cms_heavy_hitters — same token hash, same
    disjoint 10-bit bucket slices, exact integer counters, min over
    ALL d rows (absent bucket = 0)."""
    d, w = webtext._CMS_D, webtext._CMS_W
    probes = ", ".join(
        f"('{t}', {i})" for i, t in enumerate(webtext._CMS_PROBES)
    )
    bucket = (
        f"CAST((h // CAST(power(2, 10 * r) AS HUGEINT)) % {w} AS INT)"
    )
    return (
        f"WITH tk AS (SELECT {WS_TOKS_SQL} AS toks FROM {table}), "
        "tl AS (SELECT unnest(toks) AS t FROM tk), "
        "tc0 AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tl GROUP BY t), "
        f"tc AS (SELECT t, n, {_token_hash_sql('t')} AS h FROM tc0), "
        f"rs AS (SELECT CAST(r AS INT) AS r FROM range({d}) tbl(r)), "
        f"ctr AS (SELECT r, {bucket} AS bucket, CAST(sum(n) AS BIGINT) AS cn "
        "FROM tc, rs GROUP BY r, bucket), "
        f"pb AS (SELECT * FROM (VALUES {probes}) v(token, pidx)), "
        f"ph AS (SELECT token, pidx, {_token_hash_sql('token')} AS h FROM pb), "
        f"pe AS (SELECT token, pidx, r, {bucket} AS bucket FROM ph, rs), "
        "e AS (SELECT token, pidx, MIN(coalesce(cn, 0)) AS est_n "
        "FROM pe LEFT JOIN ctr USING (r, bucket) GROUP BY token, pidx) "
        "SELECT e.token, CAST(coalesce(tc.n, 0) AS BIGINT) AS true_n, "
        "CAST(e.est_n AS BIGINT) AS est_n FROM e LEFT JOIN tc ON tc.t = e.token"
    )


def _word_hits_sql(word: str) -> str:
    """SQL twin of webtext._word_hits (padded-replace length arithmetic;
    the division is exact so DuckDB's round-cast == Spark's trunc-cast)."""
    needle = f" {word} "
    return (
        f"CAST((length(' ' || text || ' ') - "
        f"length(replace(' ' || text || ' ', '{needle}', ''))) "
        f"/ {len(needle)} AS BIGINT)"
    )


def quality_classifier_sql(table: str = "documents") -> str:
    """Oracle for webtext.quality_classifier: same pinned integer
    weights, same floor-division mean length (// == Spark div on
    non-negatives), logit compared, never a sigmoid."""
    w = webtext._QC_W
    stop = " + ".join(_word_hits_sql(s) for s in webtext.EN_STOPWORDS)
    logit = (
        f"({w['bias']} + f_tokens * {w['n_tokens']} "
        f"+ f_mean_len_x1000 * {w['mean_len_x1000']} "
        f"+ f_stop_hits * {w['stop_hits']} + f_punct * ({w['punct']}))"
    )
    return (
        f"WITH t AS (SELECT doc_id, {WS_TOKS_SQL} AS toks, {stop} AS s_hits, "
        "CAST(length(text) - length(translate(text, '.,!?;:', '')) AS BIGINT) "
        f"AS p_cnt FROM {table}), "
        "m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n, "
        "CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) "
        "AS BIGINT) AS tc, s_hits, p_cnt FROM t), "
        f"f AS (SELECT doc_id, least(n, {webtext._QC_TOKEN_CAP}) AS f_tokens, "
        "CASE WHEN n > 0 THEN (tc * 1000) // n ELSE 0 END AS f_mean_len_x1000, "
        "s_hits AS f_stop_hits, p_cnt AS f_punct FROM m) "
        "SELECT doc_id, f_tokens, f_mean_len_x1000, f_stop_hits, f_punct, "
        f"CAST({logit} AS BIGINT) AS logit_q, {logit} >= 0 AS keep FROM f"
    )


def bigram_topk_sql(table: str = "documents", k: int = 100) -> str:
    """Oracle for webtext.bigram_topk: same bigram/context counts and
    ONE long/long double division for P(w2|w1) (bit-identical)."""
    return (
        f"WITH t AS (SELECT doc_id, {WS_TOKS_SQL} AS toks FROM {table}), "
        "bg0 AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN "
        "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) "
        "ELSE CAST([] AS VARCHAR[]) END) AS bigram FROM t), "
        "bg AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_bigram "
        f"FROM bg0 GROUP BY bigram ORDER BY n_bigram DESC, bigram LIMIT {k}), "
        "cx0 AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN "
        "toks[1:len(toks) - 1] ELSE CAST([] AS VARCHAR[]) END) AS w1 FROM t), "
        "cx AS (SELECT w1, CAST(count(*) AS BIGINT) AS n_context "
        "FROM cx0 GROUP BY w1) "
        "SELECT bigram, n_bigram, n_context, "
        "CAST(n_bigram AS DOUBLE) / CAST(n_context AS DOUBLE) AS p_cond "
        "FROM bg JOIN cx ON split_part(bigram, ' ', 1) = cx.w1"
    )


def text_index_topk_sql(
    table: str = "documents", k: int = 200, postings_cap: int = 20
) -> str:
    """Oracle for webtext.text_index_topk: same (token, doc) partials,
    df/cf rollup, cf-desc top-k, and ascending postings capped at
    `postings_cap` before the string join."""
    return (
        f"WITH t AS (SELECT doc_id, {WS_TOKS_SQL} AS toks FROM {table}), "
        "pd AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM "
        "(SELECT doc_id, unnest(toks) AS token FROM t) GROUP BY token, doc_id), "
        "top AS (SELECT token, CAST(count(*) AS BIGINT) AS df, "
        "CAST(sum(tf) AS BIGINT) AS cf FROM pd GROUP BY token "
        f"ORDER BY cf DESC, token LIMIT {k}), "
        "pc AS (SELECT pd.token, pd.doc_id FROM pd JOIN top USING (token) "
        "QUALIFY row_number() OVER (PARTITION BY pd.token ORDER BY pd.doc_id) "
        f"<= {postings_cap}), "
        "post AS (SELECT token, string_agg(CAST(doc_id AS VARCHAR), ',' "
        "ORDER BY doc_id) AS postings FROM pc GROUP BY token) "
        "SELECT top.token, df, cf, postings FROM top JOIN post USING (token)"
    )


def pagerank_sql(table: str = "documents", iters: int = 3) -> str:
    """Oracle for graph.pagerank: same synthesized edge rule
    (u -> (u*u + 31j) mod N, j in 1..3), same fixed-point integer
    iteration unrolled as a CTE chain (// == Spark div on
    non-negatives; no float ever)."""
    from . import graph

    scale, deg = graph.PR_SCALE, graph._OUT_DEG
    base = (15 * scale) // 100
    ctes = [
        f"nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {table})",
        f"nodes AS (SELECT doc_id FROM {table})",
        "edges AS (SELECT doc_id AS src, "
        f"CAST((doc_id * doc_id + 31 * j) % n AS BIGINT) AS dst "
        f"FROM {table}, nn, (VALUES (1), (2), (3)) jj(j))",
        f"r0 AS (SELECT doc_id, CAST({scale} AS BIGINT) AS rank_q FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"i{i} AS (SELECT dst, CAST(sum(rank_q // {deg}) AS BIGINT) AS s "
            f"FROM edges JOIN r{i - 1} ON edges.src = r{i - 1}.doc_id "
            "GROUP BY dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT nd.doc_id, {base} + (85 * coalesce(s, 0)) // 100 "
            f"AS rank_q FROM nodes nd LEFT JOIN i{i} ON nd.doc_id = i{i}.dst)"
        )
    ctes.append(
        "deg AS (SELECT dst, CAST(count(*) AS BIGINT) AS in_deg "
        "FROM edges GROUP BY dst)"
    )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT r{iters}.doc_id, coalesce(deg.in_deg, 0) AS in_deg, "
        f"CAST(r{iters}.rank_q AS BIGINT) AS rank_q "
        f"FROM r{iters} LEFT JOIN deg ON r{iters}.doc_id = deg.dst"
    )


def pmi_topk_sql(
    table: str = "documents", k: int = 100, min_count: int = 5
) -> str:
    """Oracle for webtext.pmi_topk: same three count aggregations,
    exact HUGEINT products, ONE double division (bit-identical)."""
    return (
        f"WITH t AS (SELECT doc_id, {WS_TOKS_SQL} AS toks FROM {table}), "
        "pr AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN "
        "list_transform(range(1, len(toks)), i -> {'w1': toks[i], 'w2': toks[i + 1]}) "
        "ELSE CAST([] AS STRUCT(w1 VARCHAR, w2 VARCHAR)[]) END) AS p FROM t), "
        "bg AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS n_ab "
        f"FROM pr GROUP BY p.w1, p.w2 HAVING count(*) >= {min_count}), "
        "c1 AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN toks[1:len(toks) - 1] "
        "ELSE CAST([] AS VARCHAR[]) END) AS w1 FROM t), "
        "g1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS n_w1 FROM c1 GROUP BY w1), "
        "c2 AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN toks[2:len(toks)] "
        "ELSE CAST([] AS VARCHAR[]) END) AS w2 FROM t), "
        "g2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_w2 FROM c2 GROUP BY w2), "
        "tot AS (SELECT CAST(coalesce(sum(greatest(len(toks) - 1, 0)), 0) "
        "AS BIGINT) AS n_events FROM t) "
        "SELECT bg.w1, bg.w2, n_ab, n_w1, n_w2, n_events, "
        "CAST(CAST(n_ab AS HUGEINT) * n_events AS DOUBLE) / "
        "CAST(CAST(n_w1 AS HUGEINT) * n_w2 AS DOUBLE) AS pmi_ratio "
        "FROM bg JOIN g1 USING (w1) JOIN g2 USING (w2) CROSS JOIN tot "
        f"ORDER BY pmi_ratio DESC, w1, w2 LIMIT {k}"
    )


def ann_pq_sql(query_ids, codebooks, k: int = 10, table: str = "embeddings") -> str:
    """Oracle for webtext.ann_pq: trained codebooks pinned as literal
    VALUES (the IVF convention); DuckDB re-derives every vector's
    sub-codes by exact integer argmin (ORDER BY d, c == np.argmin
    first-min) and replays the integer ADC sum — no float anywhere."""
    import numpy as np

    cb = np.asarray(codebooks).astype(np.int64)
    m, ks, ds = cb.shape
    values = ", ".join(
        f"({s}, {c}, [{', '.join(str(int(x)) for x in cb[s, c])}])"
        for s in range(m)
        for c in range(ks)
    )
    qin = ", ".join(str(int(q)) for q in query_ids)

    def l2(vec_expr: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {ds + 1}), "
            f"i -> ({vec_expr}[cb.s * {ds} + i] - cv[i]) * "
            f"({vec_expr}[cb.s * {ds} + i] - cv[i])))"
        )

    return (
        "WITH e AS (SELECT vec_id, list_transform("
        f"{_quant_list_sql('CAST(embedding AS DOUBLE[])')}, "
        f"x -> CAST(x AS BIGINT)) AS v FROM {table}), "
        f"cb AS (SELECT * FROM (VALUES {values}) t(s, c, cv)), "
        f"enc AS (SELECT e.vec_id, cb.s, cb.c, {l2('v')} AS d FROM e, cb), "
        "codes AS (SELECT vec_id, s, c FROM enc QUALIFY "
        "row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) = 1), "
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({qin})), "
        f"qt AS (SELECT query_id, cb.s, cb.c, {l2('qv')} AS td FROM q, cb), "
        "dist AS (SELECT qt.query_id, codes.vec_id AS neighbor_id, "
        "CAST(sum(td) AS BIGINT) AS dist_q FROM codes "
        "JOIN qt ON codes.s = qt.s AND codes.c = qt.c "
        "WHERE codes.vec_id != qt.query_id "
        "GROUP BY qt.query_id, codes.vec_id) "
        "SELECT query_id, neighbor_id, CAST(row_number() OVER "
        "(PARTITION BY query_id ORDER BY dist_q, neighbor_id) AS INT) AS rank, "
        f"dist_q FROM dist QUALIFY rank <= {k}"
    )


def paragraph_dedup_sql(table: str = "documents", seg_tokens: int = 10) -> str:
    """Oracle for webtext.paragraph_dedup: lockstep segmentation
    (consecutive seg_tokens-token windows over WS_TOKS_SQL), the same
    keep-first window (row_number over segment, ordered doc_id,
    seg_no), and ordered reassembly. string_agg skips the NULLed
    dropped segments; COALESCE matches Spark's array_join('') on
    all-dropped docs."""
    st = int(seg_tokens)
    return (
        f"WITH t AS (SELECT doc_id, {WS_TOKS_SQL} AS toks FROM {table}), "
        "g AS (SELECT doc_id, toks, unnest(range(0, "
        f"(len(toks) + {st - 1}) // {st})) AS g FROM t), "
        "segs AS (SELECT doc_id, CAST(g AS INT) AS seg_no, "
        f"array_to_string(toks[(g * {st} + 1):(g * {st} + {st})], ' ') AS seg "
        "FROM g), "
        "ranked AS (SELECT doc_id, seg_no, seg, row_number() OVER "
        "(PARTITION BY seg ORDER BY doc_id, seg_no) AS rn FROM segs) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS segs_total, "
        "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS segs_kept, "
        "coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' "
        "ORDER BY seg_no), '') AS text_dedup "
        "FROM ranked GROUP BY doc_id"
    )


def global_ordinals_sql(
    table: str = "documents", shard_size: int = 1000,
    order_col: str = "doc_id",
) -> str:
    """Oracle for ids.global_ordinals: the single-window spelling that
    DuckDB can afford at gate scale (the Spark side exists precisely
    because this plan shape cannot run at 100 TB)."""
    return (
        f"SELECT {order_col}, "
        f"CAST(row_number() OVER (ORDER BY {order_col}) - 1 AS BIGINT) "
        "AS ordinal, "
        f"CAST((row_number() OVER (ORDER BY {order_col}) - 1) "
        f"// {int(shard_size)} AS INT) AS shard_id "
        f"FROM {table}"
    )


def dedup_incremental_sql(
    table: str = "documents",
    k: int = 5,
    threshold: float = 0.5,
    bucket_cap: int | None = 1024,
    new_mod: int = 10,
    new_rem: int = 7,
) -> str:
    """Oracle for webtext.dedup_incremental over a doc_id-modulo split
    of `table` (new batch = doc_id % new_mod == new_rem, corpus = the
    rest): identical signatures/banding as minhash_pairs_sql, a plain
    DISTINCT band equi-join for new-vs-corpus, the capped chain
    self-join for new-vs-new, min-match dup_of, keep = no match."""
    a, b = webtext._minhash_params()
    perms = ", ".join(
        f"list_min(list_transform(hs, h -> ({int(a[i])} * h + {int(b[i])}) % {_P31}))"
        for i in range(webtext._MINHASH_PERMS)
    )
    rpb = webtext._MINHASH_PERMS // webtext._LSH_BANDS
    band_rows = ", ".join(f"({i})" for i in range(webtext._LSH_BANDS))
    key = " || '_' || ".join(
        f"CAST(sig[{rpb} * band + {j + 1}] AS VARCHAR)" for j in range(rpb)
    )
    est = (
        "CAST(list_sum(list_transform(range(1, 33), i -> "
        "CASE WHEN sa.sig[CAST(i AS BIGINT)] = sb.sig[CAST(i AS BIGINT)] "
        "THEN 1 ELSE 0 END)) AS INT) "
        f"/ CAST({webtext._MINHASH_PERMS} AS INT)"
    )
    wpairs = capped_pairs_sql(
        "bn", ("band", "bh"), "doc_id", "doc_a", "doc_b", bucket_cap,
        order_cte="ordk",
    )
    return (
        f"WITH sh AS (SELECT doc_id, {shingle_hash_list_sql('text', k)} AS hs FROM {table}), "
        f"sig AS (SELECT doc_id, [{perms}] AS sig FROM sh), "
        f"newsig AS (SELECT * FROM sig WHERE doc_id % {new_mod} = {new_rem}), "
        f"corpsig AS (SELECT * FROM sig WHERE doc_id % {new_mod} <> {new_rem}), "
        f"bn AS (SELECT doc_id, band, {key} AS bh "
        f"FROM newsig, (VALUES {band_rows}) AS bt(band)), "
        f"bc AS (SELECT doc_id, band, {key} AS bh "
        f"FROM corpsig, (VALUES {band_rows}) AS bt(band)), "
        "crossp AS (SELECT DISTINCT n.doc_id AS n_doc, c.doc_id AS c_doc "
        "FROM bn n JOIN bc c ON n.band = c.band AND n.bh = c.bh), "
        "crosse AS (SELECT n_doc, c_doc AS match_id FROM crossp p "
        "JOIN sig sa ON sa.doc_id = p.n_doc "
        f"JOIN sig sb ON sb.doc_id = p.c_doc WHERE {est} >= {threshold}e0), "
        "ordk AS (SELECT doc_id, array_to_string("
        "list_transform(sig, v -> CAST(v AS VARCHAR)), '_') AS __ord FROM newsig), "
        f"wp AS ({wpairs}), "
        "we AS (SELECT doc_b AS n_doc, doc_a AS match_id FROM wp "
        "JOIN sig sa ON sa.doc_id = wp.doc_a "
        f"JOIN sig sb ON sb.doc_id = wp.doc_b WHERE {est} >= {threshold}e0), "
        "m AS (SELECT n_doc, min(match_id) AS dup_of FROM "
        "(SELECT * FROM crosse UNION ALL SELECT * FROM we) GROUP BY n_doc) "
        "SELECT d.doc_id, CAST(m.dup_of AS BIGINT) AS dup_of, "
        "m.dup_of IS NULL AS keep "
        f"FROM (SELECT doc_id FROM {table} WHERE doc_id % {new_mod} = {new_rem}) d "
        "LEFT JOIN m ON m.n_doc = d.doc_id"
    )


def dedup_url_latest_sql(table: str = "documents", recrawl_mod: int = 200) -> str:
    """Oracle for webtext.dedup_url_latest — identical url/ts synth;
    the keep-latest argmax is expressed as the standard windowed
    row_number() == 1 (vs Spark's max(struct) — same (ts DESC, doc_id
    DESC) pick)."""
    u = _synth_url_sql("ck", "crawl_src")
    return (
        f"WITH b AS (SELECT doc_id, doc_id % {recrawl_mod} AS ck, "
        f"'s' || CAST((doc_id % {recrawl_mod}) % 7 AS VARCHAR) AS crawl_src "
        f"FROM {table}), "
        "u AS (SELECT doc_id, "
        "CAST(1600000000 + (doc_id * 37) % 10000 AS BIGINT) AS ts, "
        f"{u} AS url FROM b), "
        "r AS (SELECT url, doc_id, ts, "
        "count(*) OVER (PARTITION BY url) AS n_crawls, "
        "row_number() OVER (PARTITION BY url ORDER BY ts DESC, doc_id DESC) "
        "AS rn FROM u) "
        "SELECT url, doc_id AS kept_doc_id, ts AS warc_ts_unix, "
        "CAST(n_crawls AS BIGINT) AS n_crawls FROM r WHERE rn = 1"
    )


def bpe_token_counts_sql(merges: list, k: int = 200, table: str = "documents") -> str:
    """Oracle for webtext.bpe_token_counts — the PINNED merge table
    (trained driver-side, bpe_merges_from_parquet) is embedded as a
    literal nested replace() chain; replace semantics (left-to-right,
    non-overlapping) are identical in DuckDB, Catalyst, and the
    trainer's scan."""
    rep = "('(' || regexp_replace(word, '(.)', '\\1)(', 'g') || '_)')"
    for x, y in merges:
        rep = f"replace({rep}, '({x})({y})', '({x}{y})')"
    return (
        "WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) "
        f"AS word FROM {table}), "
        "wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY word), "
        f"r AS (SELECT {rep} AS rep, c FROM wc), "
        "t AS (SELECT unnest(regexp_extract_all(rep, '\\(([a-z_]+)\\)', 1)) "
        "AS token, c FROM r), "
        "agg AS (SELECT token, CAST(sum(c) AS BIGINT) AS n FROM t GROUP BY token), "
        "topk AS (SELECT token, n FROM agg ORDER BY n DESC, token LIMIT "
        f"{int(k)}) "
        "SELECT token, n, CAST(row_number() OVER (ORDER BY n DESC, token) "
        "AS BIGINT) AS rank FROM topk"
    )


def crawl_diff_sql(
    table: str = "documents", ck_mod: int = 180, new_shift: int = 5
) -> str:
    """Oracle for webtext.crawl_diff — identical snapshot synth,
    per-snapshot keep-latest via row_number() == 1, full outer join +
    CASE status."""

    def snap(parity: int, shift: int, name: str) -> str:
        return (
            f"{name}0 AS (SELECT doc_id, "
            f"(doc_id // 2) % {ck_mod} + {shift} AS ck, "
            "CAST(1600000000 + (doc_id * 37) % 10000 AS BIGINT) AS ts, "
            f"md5(text) AS h FROM {table} WHERE doc_id % 2 = {parity}), "
            f"{name}1 AS (SELECT doc_id, ck, ts, h, "
            f"'s' || CAST(ck % 7 AS VARCHAR) AS crawl_src FROM {name}0), "
            f"{name}2 AS (SELECT doc_id, ts, h, "
            f"{_synth_url_sql('ck', 'crawl_src')} AS url FROM {name}1), "
            f"{name}3 AS (SELECT url, doc_id, h, row_number() OVER "
            "(PARTITION BY url ORDER BY ts DESC, doc_id DESC) AS rn "
            f"FROM {name}2), "
            f"{name} AS (SELECT url, doc_id AS {name}_doc_id, h AS {name}_h "
            f"FROM {name}3 WHERE rn = 1)"
        )

    return (
        f"WITH {snap(0, 0, 'old')}, {snap(1, new_shift, 'new')} "
        "SELECT coalesce(old.url, new.url) AS url, "
        "CASE WHEN old_doc_id IS NULL THEN 'added' "
        "WHEN new_doc_id IS NULL THEN 'removed' "
        "WHEN old_h = new_h THEN 'same' ELSE 'changed' END AS status, "
        "old_doc_id, new_doc_id "
        'FROM old FULL OUTER JOIN new ON old.url = new.url'
    )


def chunk_windows_sql(
    table: str = "documents", chunk_size: int = 128, stride: int = 96
) -> str:
    """Oracle for webtext.chunk_windows — identical tokenizer
    (WS_TOKS_SQL), start offsets via range(0, n, stride), list_slice +
    md5 over the space-rejoined chunk."""
    return (
        f"WITH tk AS (SELECT doc_id, {WS_TOKS_SQL} AS toks FROM {table}), "
        "n AS (SELECT doc_id, toks, len(toks) AS nt FROM tk WHERE len(toks) > 0), "
        f"st AS (SELECT doc_id, toks, nt, unnest(range(0, nt, {stride})) AS s "
        "FROM n), "
        f"c AS (SELECT doc_id, s, list_slice(toks, s + 1, s + {chunk_size}) "
        "AS piece FROM st) "
        f"SELECT doc_id, CAST(s // {stride} AS BIGINT) AS chunk_id, "
        "CAST(s AS BIGINT) AS chunk_start, "
        "CAST(len(piece) AS BIGINT) AS chunk_len, "
        "md5(array_to_string(piece, ' ')) AS chunk_md5 FROM c"
    )


def winnow_sql(table: str = "documents", k: int = None, w: int = 4) -> str:
    """Oracle for webtext.winnow_fingerprints — identical token +
    rolling window hashes (dup_span_sql's), rightmost-min selection as
    pos = i + wlen - list_position(list_reverse(window), list_min(
    window)) (first match in the reversed window == rightmost in the
    original; HUGEINT min == the unsigned order numpy argmins in)."""
    kk = int(k) if k is not None else webtext._SPAN_K
    ww = int(w)
    terms = " + ".join(
        _mulmod64_sql(
            f"th[CAST(i + {j} AS BIGINT)]",
            pow(webtext._SPAN_BASE, kk - 1 - j, _TWO64),
        )
        for j in range(kk)
    )
    return (
        f"WITH tk AS (SELECT doc_id, {WS_TOKS_SQL} AS toks FROM {table}), "
        "th AS (SELECT doc_id, "
        f"list_transform(toks, t -> {_token_hash_sql('t')}) AS th, "
        "len(toks) AS n FROM tk), "
        "wl AS (SELECT doc_id, "
        f"list_transform(range(1, greatest(n - {kk} + 2, 1)), i -> ({terms}) % {_TWO64}) "
        f"AS whl FROM th WHERE n >= {kk}), " +
        f"par AS (SELECT doc_id, whl, least({ww}, len(whl)) AS wlen FROM wl "
        "WHERE len(whl) > 0), "
        "sel AS (SELECT doc_id, whl, wlen, "
        "unnest(range(0, len(whl) - wlen + 1)) AS i FROM par), "
        "pick AS (SELECT DISTINCT doc_id, whl, "
        "i + wlen - list_position(list_reverse(list_slice(whl, i + 1, i + wlen)), "
        "list_min(list_slice(whl, i + 1, i + wlen))) AS pos FROM sel) "
        "SELECT doc_id, CAST(pos AS BIGINT) AS pos, "
        f"CAST(CASE WHEN whl[pos + 1] >= {_TWO63} THEN whl[pos + 1] - {_TWO64} "
        "ELSE whl[pos + 1] END AS BIGINT) AS fp FROM pick"
    )


def blocklist_filter_sql(table: str = "documents", blocked_domains=None) -> str:
    """Oracle for webtext.blocklist_filter — identical url/domain
    parse, NOT IN over the identical pinned list."""
    if blocked_domains is None:
        blocked_domains = webtext._DEFAULT_BLOCKLIST
    lits = ", ".join(f"'{d}'" for d in blocked_domains)
    return (
        f"WITH u AS (SELECT doc_id, {_synth_url_sql()} AS url FROM {table}), "
        "d AS (SELECT doc_id, "
        "regexp_replace(regexp_extract(url, 'https?://([^/?]+)', 1), "
        "'^www\\.', '') AS domain FROM u) "
        f"SELECT doc_id, domain FROM d WHERE domain NOT IN ({lits})"
    )


def normalize_text_sql(table: str = "documents") -> str:
    """Oracle for webtext.normalize_text — identical deterministic
    dirt, identical explicit-class regex chain (RE2 and Java regex
    agree on [\\x00-\\x1f\\x7f] and ' {2,}')."""
    dirty = (
        "(CASE WHEN doc_id % 2 = 0 THEN '  ' ELSE '' END || text || "
        "CASE WHEN doc_id % 3 = 0 THEN chr(9) || chr(9) || ' dirty' || "
        "chr(1) || 'bits ' || chr(13) || chr(10) || ' ' ELSE ' ' END)"
    )
    return (
        f"WITH d AS (SELECT doc_id, {dirty} AS dirty FROM {table}), "
        "c AS (SELECT doc_id, dirty, trim(regexp_replace("
        "regexp_replace(dirty, '[\\x00-\\x1f\\x7f]', ' ', 'g'), "
        "' {2,}', ' ', 'g')) AS norm_text FROM d) "
        "SELECT doc_id, norm_text, "
        "CAST(length(dirty) - length(norm_text) AS BIGINT) AS n_removed FROM c"
    )
