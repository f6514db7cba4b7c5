"""Training-data pipeline operators over the web corpus: exact dedup,
MinHash-LSH, SimHash, n-gram Jaccard, text quality / language-ID /
token stats / fingerprinting.

These are [NORTH-RULE]-adjacent components of the 100 TB engine (the
round brief lists them as first-class alongside SURVEY.md §2): a
Common-Crawl-style corpus is deduplicated and quality-scored before the
geodesy pipeline runs.  Design rules:

* Hot paths are MAP-ONLY where the semantics allow (r4): MinHash
  signatures, SimHash, rolling fingerprint, trigram builds, and the
  repetition signal all compute per row — codegen lambdas over the
  token array, plus one Arrow crossing for the SimHash bit fold; the
  only remaining shuffles are the joins/aggregations that are
  inherently cross-row (band self-join, exact-dedup groupBy, pair
  intersection).  Each operator has this one Spark form; its
  independent check is the explode-shaped DuckDB SQL twin next to it.
* Token adjacency is FILTERED adjacency everywhere: positions are
  assigned after dropping empty tokens, so words separated by runs of
  spaces are neighbors (kernels and oracles agree — see the
  multispace regression test).
* Hashes are md5-based so the DuckDB oracle reproduces them exactly
  (both engines implement ``md5`` identically; 60-bit ints are carved
  out of the hex with conv/hex-cast — kept < 2^61 so no overflow
  semantics are exercised in either engine).
* MinHash permutations are ``md5(i || ':' || token)`` — no modular
  multiply, so no a·x+b overflow divergence; k=16 sigs, 4 bands × 4
  rows for LSH banding; pair generation only within LSH buckets (the
  classic bound on candidate pairs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

K_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = 4

# --- 60-bit token hash ------------------------------------------------------
# Spark:  conv(substr(md5(s),1,15),16,10) cast bigint
# DuckDB: cast('0x' || substr(md5(s),1,15) as bigint)


def hash60_col(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash60_sql(expr: str) -> str:
    return f"cast(concat('0x', substr(md5({expr}), 1, 15)) as bigint)"


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the smallest doc_id per identical text; emit group size."""
    return (docs
            .groupBy(F.md5("text").alias("text_md5"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_dups"))
            )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
       count(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# Tokenization (shared shape: split on single space, drop empties)
# ---------------------------------------------------------------------------

def tokens(docs: DataFrame) -> DataFrame:
    return (docs.select("doc_id",
                        F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.col("tok") != ""))


TOKENS_SQL = """
(SELECT doc_id, tok FROM (
   SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) q
 WHERE tok <> '')
"""


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def _flatten_tok_series(toks: "pd.Series"):
    """(flat object array, segment-start offsets) for a Series of
    token lists — shared by the hash-memoized Arrow kernels."""
    n = len(toks)
    arrs = [np.asarray(x, dtype=object) for x in toks]
    lens = np.fromiter((len(a) for a in arrs), np.int64, n)
    flat = np.concatenate(arrs) if n else np.empty(0, dtype=object)
    offs = np.zeros(n, np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    return flat, offs, lens


def _hash60_batch(flat: np.ndarray, prefixes: list[str] | None):
    """hash60 of every token in ``flat`` — md5 computed ONCE per
    batch-distinct token (np.unique), then gathered back through the
    inverse index.  Values are the exact conv(substr(md5(x),1,15),16,10)
    integers (md5 is md5; the 60-bit carve is the same hex prefix), so
    this is bit-identical to :func:`hash60_col` while exploiting token
    redundancy: cost is md5 × batch-vocabulary instead of md5 × token
    stream (Zipf makes that a large constant even at web-corpus vocab;
    memory is bounded by the batch's distinct set — no cross-task
    state).  Returns (T,) for ``prefixes=None`` else (T, P)."""
    import hashlib
    uniq, inv = np.unique(flat, return_inverse=True)
    if prefixes is None:
        H = np.fromiter(
            (int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
             for t in uniq), np.int64, len(uniq))
        return H[inv]
    H = np.empty((len(uniq), len(prefixes)), np.int64)
    for i, t in enumerate(uniq):
        for p, pre in enumerate(prefixes):
            H[i, p] = int(hashlib.md5(
                (pre + t).encode("utf-8")).hexdigest()[:15], 16)
    return H[inv]


def _minhash_sig_kernel():
    """array<bigint>[K_MINHASH] per token list: per-batch-unique md5,
    per-doc column-wise min (min over the multiset == min over the
    distinct set, so no array_distinct is needed)."""
    prefixes = [f"{p}:" for p in range(K_MINHASH)]

    @pandas_udf("array<bigint>")
    def _udf(toks: pd.Series) -> pd.Series:
        if len(toks) == 0:
            return pd.Series(np.empty(0, dtype=object))
        flat, offs, _ = _flatten_tok_series(toks)
        vals = _hash60_batch(flat, prefixes)           # (T, K)
        sigs = np.minimum.reduceat(vals, offs, axis=0)  # (n, K)
        return pd.Series([r.tolist() for r in sigs])

    return _udf


def minhash_sig_array(docs: DataFrame) -> DataFrame:
    """(doc_id, sigs array<bigint>[K_MINHASH]) — MAP-ONLY, one Arrow
    crossing; the md5 work runs once per batch-distinct token
    (:func:`_hash60_batch`) instead of once per (token, permutation).
    sigs[p] is the min over the document's tokens of
    hash60(p || ':' || token), exactly :data:`MINHASH_SIG_SQL`'s value
    (min over the multiset == min over the distinct set)."""
    toks_nd = "filter(split(text, ' '), t -> t <> '')"
    return (docs.select("doc_id", F.expr(toks_nd).alias("toks"))
            .filter(F.size("toks") > 0)
            .select("doc_id",
                    _minhash_sig_kernel()(F.col("toks")).alias("sigs")))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, perm, sig): sig = min over DISTINCT tokens of
    hash60(perm || ':' || token), derived by posexploding the map-only
    signature array (explode at OUTPUT only, no shuffle)."""
    return minhash_sig_array(docs).select(
        "doc_id", F.posexplode("sigs").alias("perm", "sig"))


MINHASH_SIG_SQL = f"""
(SELECT doc_id, perm, min(h) AS sig FROM (
   SELECT doc_id, perm,
          {hash60_sql("concat(cast(perm as string), ':', tok)")} AS h
   FROM (SELECT DISTINCT doc_id, tok FROM {TOKENS_SQL} qt) q1
   CROSS JOIN (SELECT unnest(range(0, {K_MINHASH})) AS perm) q2
 ) q3 GROUP BY doc_id, perm)
"""


def minhash_bands(docs: DataFrame, sig: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, band_key): md5 over the band's ordered sigs."""
    if sig is None:
        sig = minhash_signatures(docs)
    band = (F.col("perm") / ROWS_PER_BAND).cast("int")
    return (sig.withColumn("band", band)
            .groupBy("doc_id", "band")
            .agg(F.md5(F.concat_ws(",", F.array_sort(
                F.collect_list(F.format_string("%02d:%d", "perm", "sig"))
            ))).alias("band_key")))


MINHASH_BANDS_SQL = f"""
(SELECT doc_id, band,
        md5(string_agg(printf('%02d:%d', perm, sig), ',' ORDER BY
            printf('%02d:%d', perm, sig))) AS band_key
 FROM (SELECT doc_id, perm, sig,
              cast(floor(perm / {ROWS_PER_BAND}.0e0) as int) AS band
       FROM {MINHASH_SIG_SQL} qs) q
 GROUP BY doc_id, band)
"""


MAX_BUCKET = 50  # skip degenerate buckets (bucket of m docs → m²/2
# pairs; one 2.7k-member bucket measured at sf0.1 alone contributed
# 3.6M of 13.3M candidates).  A bucket this hot means the band's
# signature slice is non-discriminative for those docs — standard LSH
# practice is to drop it; other bands still pair genuinely similar
# docs.  The cap is part of the operator's semantics and the oracle
# replicates it, so results stay exactly comparable.


def minhash_pairs(docs: DataFrame, max_bucket: int = MAX_BUCKET,
                  cache: list | None = None) -> DataFrame:
    """Candidate near-dup pairs: share ≥1 (non-degenerate) LSH band
    bucket; score = fraction of equal signature components (MinHash
    Jaccard estimate).

    FOLDED form (r2; VERDICT r1 #9): the per-doc signature vector is
    aggregated ONCE into a perm-ordered array, band keys are derived
    from array slices in codegen, and the Jaccard estimate is a
    zip_with/filter/size expression over the two arrays carried by the
    band self-join — the r1 plan re-joined the k×-inflated signature
    table twice (one shuffle each) plus a groupBy(pair) shuffle; all
    three are gone.  The banded self-equi-join plus the degenerate-
    bucket cap still bound the candidate count (the LSH sub-quadratic
    guarantee).  The capped band table is persisted because the
    self-join reads it twice — the CALLER owns that cache: each call
    persists a fresh copy, so long-lived sessions invoking this
    repeatedly should pass a list as ``cache`` to receive the persisted
    band DataFrame and ``unpersist()`` it once the returned plan has
    been materialized (otherwise storage copies stack up)."""
    # r4: the signature table is now MAP-ONLY (minhash_sig_array) —
    # the r3 groupBy(doc_id) signature-assembly exchange is gone too;
    # the banded self-join below is the plan's ONLY shuffle.
    sig_arr = minhash_sig_array(docs)
    band_ix = F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band")
    # band_key formatting is EXACTLY minhash_bands' ("%02d:%d" join ","):
    # the two code paths and the SQL oracle stay hash-comparable (perm
    # is the static array position here)
    band_fmt = {
        b: F.md5(F.concat_ws(",", *[
            F.format_string("%02d:%d", F.lit(p),
                            F.element_at("sigs", p + 1))
            for p in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)]))
        for b in range(N_BANDS)}
    band_key = F.lit(None).cast("string")
    for b in range(N_BANDS - 1, -1, -1):
        band_key = F.when(F.col("band") == b, band_fmt[b]) \
            .otherwise(band_key)
    bands = (sig_arr.select("doc_id", "sigs", band_ix)
             .withColumn("band_key", band_key))
    wb = Window.partitionBy("band", "band_key")
    bands = (bands.withColumn("bsize", F.count("*").over(wb))
             .filter(F.col("bsize") <= max_bucket).drop("bsize")
             .persist())
    if cache is not None:
        cache.append(bands)
    eq = F.size(F.filter(
        F.zip_with(F.col("a.sigs"), F.col("b.sigs"),
                   lambda x, y: x == y),
        lambda v: v))
    return (bands.alias("a")
            .join(bands.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.band_key") == F.col("b.band_key"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    (eq / F.lit(float(K_MINHASH))).alias("est_jaccard"))
            .distinct())


_BANDS_CAPPED_SQL = f"""
(SELECT doc_id, band, band_key FROM (
   SELECT doc_id, band, band_key,
          count(*) OVER (PARTITION BY band, band_key) AS bsize
   FROM {MINHASH_BANDS_SQL} qb) qc
 WHERE bsize <= {MAX_BUCKET})
"""

MINHASH_PAIRS_SQL = f"""
(SELECT doc_a, doc_b,
        sum(case when sa.sig = sb.sig then 1 else 0 end) / {float(K_MINHASH)!r}e0 AS est_jaccard
 FROM (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM {_BANDS_CAPPED_SQL} a JOIN {_BANDS_CAPPED_SQL} b
         ON a.band = b.band AND a.band_key = b.band_key
        AND a.doc_id < b.doc_id) p
 JOIN {MINHASH_SIG_SQL} sa ON p.doc_a = sa.doc_id
 JOIN {MINHASH_SIG_SQL} sb ON p.doc_b = sb.doc_id AND sa.perm = sb.perm
 GROUP BY doc_a, doc_b)
"""


# ---------------------------------------------------------------------------
# SimHash (16-bit, token-count weighted)
# ---------------------------------------------------------------------------

# 60 bits (= the hash60 width, fits bigint with headroom): wide enough
# that the 4 × 15-bit LSH bands below are discriminative — a narrow
# fingerprint (e.g. 16 bits → 4-bit bands, 16 distinct values) would
# make the band self-join effectively all-pairs and the degenerate-
# bucket cap would then DROP true near-dups.  r3 change; the simhash
# query and its oracle derive from this one constant, so both engines
# move together.
SIMHASH_BITS = 60


def _simhash_kernel():
    """One Arrow crossing: per doc, hash the tokens (md5 once per
    batch-distinct token — r6, :func:`_hash60_batch`; previously the
    codegen lambda hashed every token occurrence) and fold into the
    60-bit SimHash.  O(total_tokens) memory (no T×60 matrix — one
    shifted int64 scratch vector per bit, segment-summed with
    ``np.add.reduceat``); exact integer arithmetic throughout, so the
    result is independent of token order and batch boundaries."""
    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

    @pandas_udf("bigint")
    def _udf(toks: pd.Series) -> pd.Series:
        n = len(toks)
        if n == 0:
            return pd.Series(np.empty(0, np.int64))
        flat_t, offs, lens = _flatten_tok_series(toks)
        flat = _hash60_batch(flat_t, None)
        cnt = np.empty((n, SIMHASH_BITS), np.int64)
        tmp = np.empty_like(flat)
        for b in range(SIMHASH_BITS):
            np.right_shift(flat, b, out=tmp)
            np.bitwise_and(tmp, 1, out=tmp)
            cnt[:, b] = np.add.reduceat(tmp, offs)
        s = 2 * cnt - lens[:, None]  # Σ±1 = 2·popcount − n_tokens
        fp = ((s > 0).astype(np.int64) << shifts).sum(axis=1)
        return pd.Series(fp)

    return _udf


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per doc.  MAP-ONLY: the codegen lambda builds the
    token array per row and one Arrow kernel folds it to the
    fingerprint; zero Exchange in the plan.  :data:`SIMHASH_SQL` computes
    the same value by exploding tokens × bits through two hash
    aggregations."""
    tk = docs.select("doc_id", F.expr(
        "filter(split(text, ' '), t -> t <> '')").alias("tk"))
    return (tk.filter(F.size("tk") > 0)
            .select("doc_id",
                    _simhash_kernel()(F.col("tk")).alias("simhash")))


SIMHASH_SQL = f"""
(SELECT doc_id,
        cast(sum(case when s > 0 then cast(1 as bigint) * (1 << b) else 0 end)
             as bigint) AS simhash
 FROM (
   SELECT doc_id, b, sum(w) AS s FROM (
     SELECT doc_id, b,
            case when (h >> b) & 1 = 1 then 1 else -1 end AS w
     FROM (SELECT doc_id, {hash60_sql('tok')} AS h FROM {TOKENS_SQL} qt) q1
     CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BITS})) AS b) q2
   ) q3 GROUP BY doc_id, b
 ) q4 GROUP BY doc_id)
"""


SIMHASH_N_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_N_BANDS


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3,
                           max_bucket: int = MAX_BUCKET,
                           sh: DataFrame | None = None,
                           cache: list | None = None) -> DataFrame:
    """SimHash Hamming-ball candidate pairs: band the fingerprint into
    ``SIMHASH_N_BANDS`` equal bit slices and self-equi-join on
    (band, band_val) — by pigeonhole, any pair within Hamming distance
    ``SIMHASH_N_BANDS - 1`` (= 3 here) shares at least one untouched
    band, so recall at the threshold is EXACT, not probabilistic.
    Exact distance is then one codegen ``bit_count(xor)`` per candidate.
    Same shape and degenerate-bucket cap as the MinHash banding — one
    hash self-join, never all-pairs."""
    if sh is None:
        sh = simhash(docs)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band = F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_N_BANDS - 1))) \
        .alias("band")
    b = (sh.select("doc_id", "simhash", band)
         .withColumn("band_val", F.expr(
             f"(simhash >> (band * {SIMHASH_BAND_BITS})) & {mask}")))
    wb = Window.partitionBy("band", "band_val")
    b = (b.withColumn("bsize", F.count("*").over(wb))
         .filter(F.col("bsize") <= max_bucket).drop("bsize"))
    # persist ONLY under the caller-owned cache contract (the self-join
    # reads the banded frame twice, so callers that can unpersist —
    # e.g. the __spark_entry__ memo — should pass a cache list); an
    # unconditional persist leaked one storage copy per call in
    # long-lived sweep sessions (ADVICE r4)
    if cache is not None:
        b = b.persist()
        cache.append(b)
    return (b.alias("a")
            .join(b.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.band_val") == F.col("b.band_val"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.bit_count(F.col("a.simhash")
                                .bitwiseXOR(F.col("b.simhash")))
                    .cast("int").alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def simhash_near_dup_pairs_sql(max_hamming: int = 3,
                               max_bucket: int = MAX_BUCKET) -> str:
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""
WITH b AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * {SIMHASH_BAND_BITS})) & {mask} AS band_val
  FROM {SIMHASH_SQL} sh
  CROSS JOIN (SELECT unnest(range(0, {SIMHASH_N_BANDS})) AS band) g),
bc AS (
  SELECT doc_id, simhash, band, band_val FROM (
    SELECT doc_id, simhash, band, band_val,
           count(*) OVER (PARTITION BY band, band_val) AS bsize FROM b) q
  WHERE bsize <= {max_bucket})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) as int) AS hamming
FROM bc a JOIN bc b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# Word n-gram Jaccard near-dup (exact, on bounded candidate pairs)
# ---------------------------------------------------------------------------

TOKS_EXPR = "filter(split(text, ' '), t -> t <> '')"


def gram_window_expr(n: int, toks: str = "toks") -> str:
    """The ONE sliding-window gram-builder expression (codegen, never
    leaves the row): positional word n-grams over the filtered token
    array ``toks``.  Single source of truth for every gram consumer —
    _gram_arrays (distinct sets), repetition_ratio's kernel
    (multiset), and curation's positional span grams (r5 review:
    previously inlined three times; the next tokenization fix must
    land exactly once)."""
    parts = ", ".join(f"element_at({toks}, i + {j + 1})" for j in range(n))
    return (f"case when size({toks}) >= {n} then "
            f"transform(sequence(0, size({toks}) - {n}), "
            f"i -> concat_ws(' ', {parts})) "
            f"else array() end")


def _gram_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, grams array<string>) — distinct word n-grams built
    per row in ONE codegen pass (r4).  The r3 form materialized the
    exploded token stream and positional-self-joined it (n−1) times —
    two full-stream shuffle joins per gram table at 100 TB; here the
    sliding window is a ``transform(sequence(...))`` over the token
    array and never leaves the row."""
    grams = f"array_distinct({gram_window_expr(n)})"
    return (docs.select("doc_id", F.expr(TOKS_EXPR).alias("toks"))
            .select("doc_id", F.expr(grams).alias("grams")))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        id_window: int = 25) -> DataFrame:
    """Exact trigram-set Jaccard for doc pairs with nearby doc_ids
    (bounded candidate generation; LSH covers the unbounded case).
    Gram construction is map-only (:func:`_gram_arrays`); the only
    remaining shuffles are the gram equi-join that generates
    intersections and its count aggregation."""
    ga = _gram_arrays(docs, n)
    # r6: explode_outer + IS NOT NULL instead of inner explode — the
    # inner Generate over the array_distinct'd gram array measured
    # 8.4 s vs 0.2 s at sf0.1 (same 250k output rows; the outer form
    # skips the inferred size()>0 pre-filter / codegen path that
    # re-evaluates the interpreted HOF chain).  Equivalent here
    # because gram arrays never contain NULL elements (concat_ws
    # never yields NULL), so the only NULL rows are the empty-array
    # placeholders the inner explode would have dropped.
    g = (ga.select("doc_id", F.explode_outer("grams").alias("gram"))
         .filter(F.col("gram").isNotNull()))
    # per-doc set sizes from the exploded (already-distinct) gram table
    # — a size(grams) projection over ga re-evaluates the interpreted
    # HOF chain (measured 4.2 s of the query's 6 s); this is one tiny
    # aggregation, and docs with zero grams are absent from g exactly
    # as the old n_grams > 0 filter required
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    # r6: block-equified join (the cosine_near_dup pattern).  A plain
    # gram equi-join first materializes EVERY same-gram doc pair and
    # only then applies the id-window as a residual — with a hot gram
    # in B docs that is B²/2 intermediate pairs (measured 10.5 s at
    # sf0.1 on the 31-token fixture vocabulary).  Keying the join on
    # (gram, block) with the left side exploded to {blk, blk+1} bounds
    # every build group to one id window; the window predicate stays as
    # the residual and the pair set is unchanged (a qualifying
    # partner's block is always the row's own block or the next one).
    blk = F.floor(F.col("doc_id") / F.lit(id_window))
    a = g.select(F.col("doc_id").alias("id_a"), F.col("gram").alias("gram"),
                 F.explode(F.array(blk, blk + 1)).alias("blk"))
    b = g.select(F.col("doc_id").alias("id_b"), F.col("gram").alias("gram"),
                 blk.alias("blk"))
    inter = (a.join(b, ["gram", "blk"])
             .filter((F.col("id_a") < F.col("id_b"))
                     & (F.col("id_b") <= F.col("id_a") + id_window))
             .groupBy(F.col("id_a").alias("doc_a"),
                      F.col("id_b").alias("doc_b"))
             .agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
            .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
            .select("doc_a", "doc_b", "n_inter",
                    (F.col("n_inter")
                     / (F.col("sa.n_grams") + F.col("sb.n_grams")
                        - F.col("n_inter"))).alias("jaccard")))


def ngram_jaccard_sql(id_window: int = 25) -> str:
    grams = """
 (SELECT DISTINCT doc_id, gram FROM (
    SELECT w1.doc_id AS doc_id,
           concat(w1.tok, ' ', w2.tok, ' ', w3.tok) AS gram
    FROM pos_words w1
    JOIN pos_words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
    JOIN pos_words w3 ON w1.doc_id = w3.doc_id AND w3.pos = w1.pos + 2) qg)
"""
    return f"""
WITH pos_words AS (
  -- positions are re-ranked AFTER dropping empty tokens so that
  -- tokens separated by runs of spaces are adjacent (the same
  -- semantics as the map-only kernels' filtered token arrays)
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY raw_pos) - 1
           AS pos,
         tok
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS raw_pos
    FROM documents) q WHERE tok <> ''
), grams AS {grams},
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
   AND b.doc_id <= a.doc_id + {id_window}
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, n_inter,
       n_inter / (sa.n_grams + sb.n_grams - n_inter) AS jaccard
FROM inter JOIN sizes sa ON doc_a = sa.doc_id
           JOIN sizes sb ON doc_b = sb.doc_id
"""


# ---------------------------------------------------------------------------
# Text analysis: token stats, quality score, language-ID, fingerprint
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

# BPE-ish pre-tokenizer regex (GPT-2-style approximation: letter runs,
# single digits, punctuation runs) — identical semantics in Java regex
# and RE2.
BPE_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+"

# polynomial rolling hash over whitespace tokens:
#   fp = Σ_i (hash60(tok_i) % P) · B^(n-1-i)  mod P
# order-sensitive (unlike a token-set hash).  The engine evaluates it as
# a Horner fold; the oracle computes B^k mod P by SQUARE-AND-MULTIPLY
# (31 multiply-mod steps over the bits of k) — no power lookup table,
# hence NO document length cap.  Every intermediate product is
# < P² ≈ 10¹⁸ < 2⁶³, so int64 is exact in both engines.
ROLL_P = 1_000_000_007
ROLL_B = 1_000_003
_ROLL_BITS = 31  # exponent = token position < 2^31

_B2J = []  # B^(2^j) mod P
_b = ROLL_B % ROLL_P
for _ in range(_ROLL_BITS):
    _B2J.append(_b)
    _b = (_b * _b) % ROLL_P


def powmod_sql(k_expr: str) -> str:
    """B^k mod P as a DuckDB expression (square-and-multiply over the
    bits of k) — the oracle's per-term power."""
    acc = "cast(1 as bigint)"
    for j, c in enumerate(_B2J):
        factor = f"(case when ((({k_expr}) >> {j}) & 1) = 1 then {c} else 1 end)"
        acc = f"((({acc}) * {factor}) % {ROLL_P})"
    return acc


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token counts per doc (brief: token counting).
    Zero-token docs yield NULL bpe_per_word (the DuckDB /0 result) —
    guarded against the ANSI DIVIDE_BY_ZERO crash."""
    ws = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0))
    return docs.select("doc_id", ws.alias("n_ws_tokens"),
                       bpe.alias("n_bpe_tokens"),
                       (bpe / F.when(ws > 0, ws)).alias("bpe_per_word"))


BPE_TOKEN_STATS_SQL = f"""
SELECT doc_id, n_ws_tokens, n_bpe_tokens,
       n_bpe_tokens / cast(n_ws_tokens as double) AS bpe_per_word
FROM (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_ws_tokens,
         len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens
  FROM documents) q
"""


def rolling_fingerprint(docs: DataFrame) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprint per doc.

    Σ th_i·B^(n−1−i) mod P is exactly a Horner fold, so the whole
    fingerprint is ONE codegen ``aggregate()`` over the per-row token
    array — acc·B < 2^51, no overflow — and the plan is MAP-ONLY.
    :func:`rolling_fingerprint_sql` computes the same sum term by term
    over exploded tokens with square-and-multiply powers."""
    toks = "filter(split(text, ' '), t -> t <> '')"
    fp = (f"aggregate({toks}, cast(0 as bigint), (acc, t) -> "
          f"pmod(acc * {ROLL_B} + pmod(cast(conv(substr(md5(t), 1, 15),"
          f" 16, 10) as bigint), {ROLL_P}), {ROLL_P}))")
    return (docs.select("doc_id", F.expr(fp).alias("rolling_fp"),
                        F.expr(f"cast(size({toks}) as bigint)")
                        .alias("n_tok"))
            .filter(F.col("n_tok") > 0))


def rolling_fingerprint_sql() -> str:
    pw = powmod_sql("n.n_tok - 1 - w.pos")
    return f"""
SELECT doc_id, cast(sum(term) % {ROLL_P} as bigint) AS rolling_fp,
       cast(max(n_tok) as bigint) AS n_tok
FROM (
  SELECT w.doc_id AS doc_id, n.n_tok AS n_tok,
         (({hash60_sql('w.tok')} % {ROLL_P}) * {pw}) % {ROLL_P} AS term
  FROM (SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY raw_pos)
                 - 1 AS pos,
               tok
        FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                 generate_subscripts(string_split(text, ' '), 1) AS raw_pos
          FROM documents) qw WHERE tok <> '') w
  JOIN (SELECT doc_id, count(*) AS n_tok FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents) qn WHERE tok <> '' GROUP BY doc_id) n
    ON w.doc_id = n.doc_id
) q GROUP BY doc_id
"""


def minhash_rerank_exact(docs: DataFrame, n: int = 3,
                         est_threshold: float = 0.5) -> DataFrame:
    """Dedup pipeline composition: MinHash-LSH candidates above an
    estimate threshold → EXACT word-trigram Jaccard rerank (the
    standard two-phase near-dup pipeline at corpus scale: cheap sketch
    recall, exact precision on the shortlist)."""
    cand = minhash_pairs(docs).filter(F.col("est_jaccard") >= est_threshold)
    # r4: gram sets ride as per-doc ARRAYS through two hash joins onto
    # the shortlist and intersect in codegen — no gram-level shuffle at
    # all (the r3 form exploded all grams and re-aggregated).  Pairs
    # with an empty intersection are dropped, exactly as the old inner
    # gram-join (and the oracle) did.
    ga = _gram_arrays(docs, n)
    j = (cand
         .join(ga.select(F.col("doc_id").alias("doc_a"),
                         F.col("grams").alias("grams_a")), "doc_a")
         .join(ga.select(F.col("doc_id").alias("doc_b"),
                         F.col("grams").alias("grams_b")), "doc_b")
         .withColumn("n_inter",
                     F.size(F.array_intersect("grams_a", "grams_b")))
         .filter(F.col("n_inter") > 0))
    return j.select(
        "doc_a", "doc_b", "est_jaccard",
        (F.col("n_inter")
         / (F.size("grams_a") + F.size("grams_b")
            - F.col("n_inter"))).alias("exact_jaccard"))


def minhash_rerank_exact_sql(est_threshold: float = 0.5) -> str:
    return f"""
WITH cand AS (
  SELECT doc_a, doc_b, est_jaccard FROM {MINHASH_PAIRS_SQL} q
  WHERE est_jaccard >= {est_threshold!r}e0
),
pos_words AS (
  -- positions are re-ranked AFTER dropping empty tokens so that
  -- tokens separated by runs of spaces are adjacent (the same
  -- semantics as the map-only kernels' filtered token arrays)
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY raw_pos) - 1
           AS pos,
         tok
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS raw_pos
    FROM documents) q WHERE tok <> ''
),
grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT w1.doc_id AS doc_id,
           concat(w1.tok, ' ', w2.tok, ' ', w3.tok) AS gram
    FROM pos_words w1
    JOIN pos_words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
    JOIN pos_words w3 ON w1.doc_id = w3.doc_id AND w3.pos = w1.pos + 2) qg
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.doc_a AS doc_a, c.doc_b AS doc_b, c.est_jaccard AS est_jaccard,
         count(*) AS n_inter
  FROM cand c
  JOIN grams ga ON c.doc_a = ga.doc_id
  JOIN grams gb ON c.doc_b = gb.doc_id AND ga.gram = gb.gram
  GROUP BY c.doc_a, c.doc_b, c.est_jaccard)
SELECT doc_a, doc_b, est_jaccard,
       n_inter / (sa.n_grams + sb.n_grams - n_inter) AS exact_jaccard
FROM inter JOIN sizes sa ON doc_a = sa.doc_id
           JOIN sizes sb ON doc_b = sb.doc_id
"""


def text_stats(docs: DataFrame) -> DataFrame:
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_tok = F.size(toks)
    # zero-token docs must yield NULL ratios (DuckDB's /0 result), not
    # an ANSI DIVIDE_BY_ZERO crash — same guard class as
    # c4_quality_filter (r4 review finding)
    guard = F.when(n_tok > 0, n_tok)
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars_m"),
        n_stop.alias("n_stopwords"),
        (n_stop / guard).alias("stopword_ratio"),
        (F.length("text") / guard).alias("avg_token_len"),
        F.md5(F.lower(F.regexp_replace("text", " +", " "))).alias("fingerprint"),
    )


def text_stats_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
SELECT doc_id, n_tokens, n_chars_m, n_stopwords,
       n_stopwords / cast(n_tokens as double) AS stopword_ratio,
       n_chars_m / cast(n_tokens as double) AS avg_token_len,
       md5(lower(regexp_replace(text, ' +', ' ', 'g'))) AS fingerprint
FROM (
  SELECT doc_id, text,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
         length(text) AS n_chars_m,
         len(list_filter(string_split(text, ' '),
                         t -> t IN ({stop_list}))) AS n_stopwords
  FROM documents) q
"""


LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "es": ("el", "de", "que"),
    "sl": ("je", "in", "se"),
}


def lang_id(docs: DataFrame) -> DataFrame:
    """Deterministic marker-vote language heuristic; ties → 'und'.
    (Real corpora carry a lang column; this reimplements the n-gram
    heuristic family for corpora that don't.)"""
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    scores = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append(F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
                      .alias(f"score_{lang}"))
    df = docs.select("doc_id", "lang", *scores)
    best = F.greatest(*[F.col(f"score_{c}") for c in LANG_MARKERS])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # first max in fixed dict order wins
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return df.withColumn("pred_lang", pred)


def lang_id_sql() -> str:
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_filter(string_split(lower(text), ' '), "
            f"t -> t IN ({lst}))) AS score_{lang}")
    langs = list(LANG_MARKERS)
    best = f"greatest({', '.join('score_' + c for c in langs)})"
    whens = " ".join(
        f"when score_{c} = best then '{c}'" for c in langs)
    return f"""
SELECT doc_id, lang, {', '.join('score_' + c for c in langs)},
       case when best = 0 then 'und' {whens} end AS pred_lang
FROM (SELECT doc_id, lang, {', '.join('score_' + c for c in langs)},
             {best} AS best
      FROM (SELECT doc_id, lang, text, {', '.join(score_cols)}
            FROM documents) q1) q2
"""


# ---------------------------------------------------------------------------
# r2 additions: URL-host stats, C4-style quality filter, n-gram
# repetition ratio — the remaining standard Common-Crawl curation ops
# (host-level dedup/grouping, heuristic quality gating, boilerplate
# detection).  All pure codegen; one hash shuffle each at most.
# ---------------------------------------------------------------------------

RE_HOST = "^https?://([^/]+)/"

# C4-style heuristic gate (public rule family: Raffel et al. 2020):
# minimum word count, sane mean word length, and a stopword signal.
C4_MIN_TOKENS = 5
C4_MIN_AVG_WLEN = 2.0
C4_MAX_AVG_WLEN = 12.0


def url_host_stats(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Docs per host + mean text length — the host-grouping primitive
    under per-host caps/dedup in CC pipelines.  One hash shuffle on the
    extracted host."""
    host = F.regexp_extract(F.col(url_col), RE_HOST, 1)
    return (pages.withColumn("host", host)
            .groupBy("host")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_doc"),
                 F.round(F.avg(F.length("page_text")), 6).alias("avg_len")))


def url_host_stats_sql(src: str) -> str:
    return f"""
SELECT host, count(*) AS n_docs, min(doc_id) AS first_doc,
       round(avg(length(page_text)), 6) AS avg_len
FROM (SELECT regexp_extract(url, '{RE_HOST}', 1) AS host, doc_id, page_text
      FROM {src}) q
GROUP BY host
"""


def c4_quality_filter(docs: DataFrame) -> DataFrame:
    """Per-doc boolean rule flags + the combined keep decision.
    Flags stay visible (not just the filtered table) so downstream
    audits can count what each rule dropped — the no-silent-caps rule
    applied to quality gating."""
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    n_tok = F.size(toks)
    # n_tok = 0 (empty / whitespace-only doc — exactly the junk this
    # gate exists to drop) must yield NULL avg_word_len and keep=false,
    # not an ANSI DIVIDE_BY_ZERO crash; matches DuckDB's NULL-on-/0.
    avg_wlen = F.when(
        n_tok > 0,
        F.length(F.regexp_replace("text", " ", "")) / n_tok.cast("double"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    has_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) > 0
    f_len = n_tok >= C4_MIN_TOKENS
    f_wlen = (avg_wlen >= C4_MIN_AVG_WLEN) & (avg_wlen <= C4_MAX_AVG_WLEN)
    return docs.select(
        "doc_id", n_tok.alias("n_tokens"),
        F.round(avg_wlen, 9).alias("avg_word_len"),
        f_len.alias("pass_min_tokens"),
        f_wlen.alias("pass_word_len"),
        has_stop.alias("pass_stopword"),
        (f_len & f_wlen & has_stop).alias("keep"))


def c4_quality_filter_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
SELECT doc_id, n_tokens, round(avg_word_len, 9) AS avg_word_len,
       pass_min_tokens, pass_word_len, pass_stopword,
       (pass_min_tokens AND pass_word_len AND pass_stopword) AS keep
FROM (
  SELECT doc_id, n_tokens, avg_word_len,
         n_tokens >= {C4_MIN_TOKENS} AS pass_min_tokens,
         (avg_word_len >= {C4_MIN_AVG_WLEN!r}e0
          AND avg_word_len <= {C4_MAX_AVG_WLEN!r}e0) AS pass_word_len,
         n_stop > 0 AS pass_stopword
  FROM (
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
           length(replace(text, ' ', ''))
             / cast(len(list_filter(string_split(text, ' '), t -> t <> ''))
                    as double) AS avg_word_len,
           len(list_filter(string_split(text, ' '),
                           t -> t IN ({stop_list}))) AS n_stop
    FROM documents) q1) q2
"""


def repetition_ratio(docs: DataFrame, n: int = 3) -> DataFrame:
    """Fraction of a doc's word-trigram occurrences taken by its single
    most frequent trigram — the standard boilerplate/spam repetition
    signal.

    MAP-ONLY: the gram multiset is a codegen sliding window over the
    token array and the mode count is a run-length fold over the SORTED
    gram array (``aggregate`` with a (prev, run, best) struct
    accumulator); zero Exchange.  :func:`repetition_ratio_sql` computes
    the same counts from exploded, positionally self-joined tokens."""
    grams = gram_window_expr(n)
    best = (
        "aggregate(array_sort(grams), "
        "named_struct('prev', '', 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'run', IF(x = acc.prev, acc.run + 1L, 1L), "
        "'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))"
        "), acc -> acc.best)")
    return (docs.select("doc_id", F.expr(TOKS_EXPR).alias("toks"))
            .select("doc_id", F.expr(grams).alias("grams"))
            .filter(F.size("grams") > 0)
            .select("doc_id",
                    F.expr(best).alias("top_gram_count"),
                    F.size("grams").cast("bigint").alias("n_grams"))
            .withColumn("repetition_ratio",
                        F.col("top_gram_count")
                        / F.col("n_grams").cast("double")))


def repetition_ratio_sql() -> str:
    return """
WITH pos_words AS (
  -- positions are re-ranked AFTER dropping empty tokens so that
  -- tokens separated by runs of spaces are adjacent (the same
  -- semantics as the map-only kernels' filtered token arrays)
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY raw_pos) - 1
           AS pos,
         tok
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS raw_pos
    FROM documents) q WHERE tok <> '')
SELECT doc_id, max(c) AS top_gram_count, cast(sum(c) as bigint) AS n_grams,
       max(c) / cast(sum(c) as double) AS repetition_ratio
FROM (
  SELECT doc_id, gram, count(*) AS c FROM (
    SELECT w1.doc_id AS doc_id,
           concat(w1.tok, ' ', w2.tok, ' ', w3.tok) AS gram
    FROM pos_words w1
    JOIN pos_words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
    JOIN pos_words w3 ON w1.doc_id = w3.doc_id AND w3.pos = w1.pos + 2) qg
  GROUP BY doc_id, gram) qc
GROUP BY doc_id
"""


def near_dup_drop_list(docs: DataFrame, est_threshold: float = 0.7,
                       pairs: DataFrame | None = None) -> DataFrame:
    """Curation composition: from the MinHash-LSH candidate pairs above
    ``est_threshold``, mark the LOWER-QUALITY member of each pair for
    dropping (quality = token count, ties keep the lower doc_id — the
    standard 'dedup keeps the best member of each near-dup cluster'
    step).  Emits (drop_doc_id, n_better): how many better near-twins a
    doc has.  Cost on top of minhash_pairs: one broadcast-sized metrics
    join + one hash agg.  Pass a precomputed ``pairs`` DataFrame (from
    :func:`minhash_pairs`) to reuse an existing candidate table instead
    of persisting a second band cache."""
    if pairs is None:
        pairs = minhash_pairs(docs)
    pairs = pairs.filter(F.col("est_jaccard") >= est_threshold)
    m = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        .alias("n_tok"))
    j = (pairs
         .join(m.select(F.col("doc_id").alias("doc_a"),
                        F.col("n_tok").alias("na")), "doc_a")
         .join(m.select(F.col("doc_id").alias("doc_b"),
                        F.col("n_tok").alias("nb")), "doc_b"))
    loser = F.when((F.col("na") < F.col("nb"))
                   | ((F.col("na") == F.col("nb"))
                      & (F.col("doc_a") > F.col("doc_b"))),
                   F.col("doc_a")).otherwise(F.col("doc_b"))
    return (j.select(loser.alias("drop_doc_id"))
            .groupBy("drop_doc_id")
            .agg(F.count("*").alias("n_better")))


def _cc_star(e: DataFrame, max_iter: int) -> DataFrame:
    """Large-star / small-star connected components (the O(log n)-round
    alternating algorithm from the MapReduce CC literature).  Label
    propagation's round count grows with component diameter (an
    adversarial 10¹²-doc chain means thousands of shuffles); the star
    alternation contracts every component onto its minimum id in
    logarithmically many rounds regardless of diameter:

    * large-star: each node u links every LARGER neighbor to
      m = min(Γ(u) ∪ {u});
    * small-star: each node v links its smaller neighbors and itself to
      the minimum of them.

    Both steps are one groupBy(min) + one equi-join per round — the
    same shuffle shape as a label-prop round, just fewer rounds.
    Fixpoint = a star forest rooted at each component's min id.
    Returns (doc_id, label) with label = the component's min id, the
    same contract as the WITH RECURSIVE oracle.

    Measured tradeoff (sf0.1, local[16]): on the real near-dup graph
    (shallow, diameter ~3) star ran ~2× label propagation's wall (more
    jobs per round: two star steps + dedups) — the constant-factor
    price of the O(log n)-rounds guarantee that label propagation lacks
    on long-diameter graphs, where its round count (and wall) is
    unbounded."""
    # canonical storage: (u, v) with u < v, deduped
    edges = (e.filter(F.col("src") != F.col("dst"))
             .select(F.least("src", "dst").alias("u"),
                     F.greatest("src", "dst").alias("v"))
             .distinct().localCheckpoint(eager=False))
    converged = False
    prev_n = edges.count()
    for _ in range(max_iter):
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: m(u) = min(neighbors ∪ {u}); emit (v, m) for v > u
        m = (sym.groupBy("u").agg(F.min("v").alias("mv"))
             .select("u", F.least("mv", "u").alias("m")))
        ls = (sym.join(m, "u")
              .filter((F.col("v") > F.col("u")) & (F.col("v") != F.col("m")))
              .select(F.col("m").alias("u"), F.col("v").alias("v"))
              .distinct())  # m ≤ u < v → already canonical
        # small-star over large→small orientation: group by the larger
        # endpoint v, mm = min of its smaller neighbors; emit (x, mm)
        # for x ∈ N(v) \ {mm} and (v, mm)
        mm = ls.groupBy("v").agg(F.min("u").alias("m"))
        j = ls.join(mm, "v")
        new_edges = (j.filter(F.col("u") != F.col("m"))
                     .select(F.col("m").alias("u"), F.col("u").alias("v"))
                     .unionByName(j.select(F.col("m").alias("u"),
                                           F.col("v").alias("v")))
                     .distinct().localCheckpoint(eager=False))
        # both sets are deduped: equal counts + empty one-sided
        # difference ⇒ set equality (the count usually differs in
        # non-final rounds, skipping the subtract job entirely)
        n = new_edges.count()
        if n == prev_n \
                and new_edges.subtract(edges).limit(1).count() == 0:
            edges = new_edges
            converged = True
            break
        edges, prev_n = new_edges, n
    if not converged:
        raise RuntimeError(
            f"connected components (large-star/small-star): not "
            f"converged after {max_iter} rounds — this should only be "
            f"possible if max_iter < O(log n); raise max_iter")
    # fixpoint is a star forest: every edge is (root, member)
    members = edges.select(F.col("v").alias("doc_id"),
                           F.col("u").alias("label"))
    roots = (edges.select("u").distinct()
             .select(F.col("u").alias("doc_id"), F.col("u").alias("label")))
    return members.unionByName(roots)


def near_dup_components(docs: DataFrame, est_threshold: float = 0.7,
                        pairs: DataFrame | None = None,
                        max_iter: int = 25) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup graph —
    the clustering step real dedup pipelines run between candidate
    pairs and the keep-one-per-cluster decision (each component gets
    the MIN doc_id in it as its label).

    Components come from :func:`_cc_star` (large-star/small-star
    alternation — O(log n) rounds on any graph shape).

    Iterative → registered as an oracle via DuckDB WITH RECURSIVE
    reachability (min reachable id ≡ component min on symmetric
    edges).  Output: one row per doc that belongs to a component of
    size ≥ 2 — (doc_id, component, is_kept)."""
    if pairs is None:
        pairs = minhash_pairs(docs)
    e = (pairs.filter(F.col("est_jaccard") >= est_threshold)
         .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")))
    labels = _cc_star(e, max_iter)
    return labels.select(
        "doc_id", F.col("label").alias("component"),
        (F.col("doc_id") == F.col("label")).alias("is_kept"))


def near_dup_components_sql(est_threshold: float = 0.7) -> str:
    return f"""
WITH RECURSIVE
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM {MINHASH_PAIRS_SQL} qp
  WHERE est_jaccard >= {est_threshold!r}e0
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM {MINHASH_PAIRS_SQL} qp
  WHERE est_jaccard >= {est_threshold!r}e0),
reach(a, b) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
SELECT a AS doc_id, min(b) AS component,
       (a = min(b)) AS is_kept
FROM reach GROUP BY a
"""


# canonical-URL pieces (shared Java-regex/RE2 subset): scheme, host
# (lowercased, default port stripped), rest with fragment + utm_*
# tracking params removed
RE_SCHEME = "^([A-Za-z]+)://"
RE_HOSTPORT = "^[A-Za-z]+://([^/]+)"
RE_REST = "^[A-Za-z]+://[^/]+(.*)$"


def _canon_url_expr(url_col: str) -> F.Column:
    u = F.regexp_replace(F.col(url_col), "#.*$", "")          # fragment
    u = F.regexp_replace(u, "utm_[a-z]+=[^&#]*&?", "")        # tracking
    u = F.regexp_replace(u, "[?&]$", "")                      # dangling sep
    scheme = F.lower(F.regexp_extract(u, RE_SCHEME, 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, RE_HOSTPORT, 1)), ":(443|80)$", "")
    rest = F.regexp_extract(u, RE_REST, 1)
    return F.concat(scheme, F.lit("://"), host, rest)


def url_normalize_dedup(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonical-URL dedup (CC curation: the same page crawled under
    scheme/host case variants, default ports, fragments, and utm_*
    tracking params must collapse to ONE canonical key): normalize in
    pure codegen, then one hash-shuffle groupBy — keep = min doc_id."""
    return (pages.withColumn("canon_url", _canon_url_expr(url_col))
            .groupBy("canon_url")
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("keep_doc")))


def url_normalize_dedup_sql(src: str) -> str:
    canon = (
        "concat(lower(regexp_extract(u2, '^([A-Za-z]+)://', 1)), '://', "
        "regexp_replace(lower(regexp_extract(u2, '^[A-Za-z]+://([^/]+)', 1)), "
        "':(443|80)$', ''), "
        "regexp_extract(u2, '^[A-Za-z]+://[^/]+(.*)$', 1))")
    # NB the 'g' flags: DuckDB regexp_replace is first-match-only by
    # default, Spark's replaces ALL — 'g' aligns them (several utm
    # params per URL must all go)
    return f"""
SELECT canon_url, count(*) AS n_dups, min(doc_id) AS keep_doc FROM (
  SELECT {canon} AS canon_url, doc_id FROM (
    SELECT regexp_replace(regexp_replace(regexp_replace(url,
             '#.*$', '', 'g'), 'utm_[a-z]+=[^&#]*&?', '', 'g'),
             '[?&]$', '', 'g') AS u2,
           doc_id
    FROM {src}) q1) q2
GROUP BY canon_url
"""


def host_cap_keep_first(pages: DataFrame, cap: int = 5,
                        url_col: str = "url") -> DataFrame:
    """Per-host document cap (CC pipelines bound any single host's
    contribution): rank a host's docs by doc_id and keep the first
    ``cap``.  One window shuffle on the host key; emits the rank and
    keep flag for every doc (no silent drops)."""
    host = F.regexp_extract(F.col(url_col), RE_HOST, 1)
    w = Window.partitionBy("host").orderBy(F.col("doc_id").asc())
    return (pages.withColumn("host", host)
            .withColumn("host_rank",
                        F.row_number().over(w).cast("int"))
            .select("doc_id", "host", "host_rank",
                    (F.col("host_rank") <= cap).alias("keep")))


def host_cap_keep_first_sql(src: str, cap: int = 5) -> str:
    return f"""
SELECT doc_id, host, host_rank, host_rank <= {cap} AS keep FROM (
  SELECT doc_id, host,
         cast(row_number() OVER (PARTITION BY host ORDER BY doc_id ASC)
              as int) AS host_rank
  FROM (SELECT regexp_extract(url, '{RE_HOST}', 1) AS host, doc_id
        FROM {src}) q1) q2
"""


def near_dup_drop_list_sql(est_threshold: float = 0.7) -> str:
    return f"""
SELECT drop_doc_id, count(*) AS n_better FROM (
  SELECT case when (na < nb) or (na = nb and doc_a > doc_b)
              then doc_a else doc_b end AS drop_doc_id
  FROM (SELECT doc_a, doc_b FROM {MINHASH_PAIRS_SQL} qp
        WHERE est_jaccard >= {est_threshold!r}e0) p
  JOIN (SELECT doc_id, len(list_filter(string_split(text, ' '),
                             t -> t <> '')) AS na FROM documents) ma
    ON p.doc_a = ma.doc_id
  JOIN (SELECT doc_id, len(list_filter(string_split(text, ' '),
                             t -> t <> '')) AS nb FROM documents) mb
    ON p.doc_b = mb.doc_id) q
GROUP BY drop_doc_id
"""


# ---------------------------------------------------------------------------
# Incremental (append-only) MinHash dedup — r5
# ---------------------------------------------------------------------------
# Production corpora are append-only: the historical index is already
# deduplicated, and each incoming batch must be deduped (a) against
# that index and (b) within itself — WITHOUT ever re-pairing
# old-vs-old.  The fixture splits `documents` by doc_id parity (even =
# the historical index, odd = the incoming batch).
#
# Scale shape: the old side is exactly the banded signature table a
# production pipeline stores as its dedup index (band, band_key,
# sigs), partitioned/bucketed by band_key; the new batch builds its
# bands map-only (the r4 signature kernel) and is orders of magnitude
# smaller than the index, so the new-vs-old candidate join BROADCASTS
# the batch against the streamed index — at 10¹² indexed docs the
# incremental cost per batch is one index scan + two small aggs, and
# the O(index²) work of a full re-dedup is never done.  Band-bucket
# caps are per side: the index's caps are a stored property of the
# index, the batch caps itself.

def _banded_sig_frame(docs: DataFrame,
                      max_bucket: int = MAX_BUCKET) -> DataFrame:
    """(doc_id, sigs, band, band_key) with degenerate buckets dropped —
    the shared band-table shape of minhash_pairs, reusable per side."""
    sig_arr = minhash_sig_array(docs)
    band_ix = F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band")
    band_fmt = {
        b: F.md5(F.concat_ws(",", *[
            F.format_string("%02d:%d", F.lit(p),
                            F.element_at("sigs", p + 1))
            for p in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)]))
        for b in range(N_BANDS)}
    band_key = F.lit(None).cast("string")
    for b in range(N_BANDS - 1, -1, -1):
        band_key = F.when(F.col("band") == b, band_fmt[b]) \
            .otherwise(band_key)
    bands = (sig_arr.select("doc_id", "sigs", band_ix)
             .withColumn("band_key", band_key))
    wb = Window.partitionBy("band", "band_key")
    return (bands.withColumn("bsize", F.count("*").over(wb))
            .filter(F.col("bsize") <= max_bucket).drop("bsize"))


def minhash_incremental_dedup(docs: DataFrame,
                              est_threshold: float = 0.7,
                              cache: list | None = None) -> DataFrame:
    """(doc_id, n_old_dups, n_prior_new_dups, keep) for every NEW doc
    (doc_id odd): how many indexed (old/even) near-twins and how many
    earlier-arrival (smaller-id new) near-twins it has at
    ``est_jaccard >= est_threshold``; keep = 1 iff both are zero.

    ``cache``: caller-owned persist contract (see minhash_pairs) — the
    new-batch band table feeds both candidate joins."""
    old_b = _banded_sig_frame(docs.filter(F.col("doc_id") % 2 == 0))
    new_b = _banded_sig_frame(docs.filter(F.col("doc_id") % 2 == 1))
    if cache is not None:
        new_b = new_b.persist()
        cache.append(new_b)
    eq = F.size(F.filter(
        F.zip_with(F.col("a.sigs"), F.col("b.sigs"),
                   lambda x, y: x == y),
        lambda v: v))
    est = (eq / F.lit(float(K_MINHASH))).alias("est")
    old_pairs = (old_b.alias("b")
                 .join(F.broadcast(new_b.alias("a")),
                       (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.band_key") == F.col("b.band_key")))
                 .select(F.col("a.doc_id").alias("doc_id"),
                         F.col("b.doc_id").alias("partner"), est)
                 .distinct()
                 .filter(F.col("est") >= est_threshold))
    new_pairs = (new_b.alias("a")
                 .join(new_b.alias("b"),
                       (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.band_key") == F.col("b.band_key"))
                       & (F.col("b.doc_id") < F.col("a.doc_id")))
                 .select(F.col("a.doc_id").alias("doc_id"),
                         F.col("b.doc_id").alias("partner"), est)
                 .distinct()
                 .filter(F.col("est") >= est_threshold))
    o = old_pairs.groupBy("doc_id").agg(
        F.countDistinct("partner").alias("n_old_dups"))
    n = new_pairs.groupBy("doc_id").agg(
        F.countDistinct("partner").alias("n_prior_new_dups"))
    base = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id")
    out = (base.join(o, "doc_id", "left").join(n, "doc_id", "left")
           .na.fill(0, ["n_old_dups", "n_prior_new_dups"]))
    return out.select(
        "doc_id", "n_old_dups", "n_prior_new_dups",
        F.when((F.col("n_old_dups") == 0)
               & (F.col("n_prior_new_dups") == 0), 1).otherwise(0)
        .cast("int").alias("keep"))


def _bands_capped_where_sql(pred: str) -> str:
    """Per-side capped band table: ``pred`` filters docs BEFORE the
    bucket-size window (caps are a per-side property)."""
    return f"""
(SELECT doc_id, band, band_key FROM (
   SELECT doc_id, band, band_key,
          count(*) OVER (PARTITION BY band, band_key) AS bsize
   FROM {MINHASH_BANDS_SQL} qb WHERE {pred}) qc
 WHERE bsize <= {MAX_BUCKET})
"""


def minhash_incremental_dedup_sql(est_threshold: float = 0.7) -> str:
    def scored(pairs: str) -> str:
        return f"""
(SELECT p.doc_id, p.partner,
        sum(case when sa.sig = sb.sig then 1 else 0 end)
          / {float(K_MINHASH)!r}e0 AS est
 FROM {pairs} p
 JOIN {MINHASH_SIG_SQL} sa ON p.doc_id = sa.doc_id
 JOIN {MINHASH_SIG_SQL} sb ON p.partner = sb.doc_id AND sa.perm = sb.perm
 GROUP BY p.doc_id, p.partner)
"""
    op = """(SELECT DISTINCT a.doc_id, b.doc_id AS partner
       FROM new_b a JOIN old_b b
         ON a.band = b.band AND a.band_key = b.band_key)"""
    np_ = """(SELECT DISTINCT a.doc_id, b.doc_id AS partner
       FROM new_b a JOIN new_b b
         ON a.band = b.band AND a.band_key = b.band_key
        AND b.doc_id < a.doc_id)"""
    return f"""
WITH old_b AS (SELECT * FROM {_bands_capped_where_sql("doc_id % 2 = 0")} ob),
new_b AS (SELECT * FROM {_bands_capped_where_sql("doc_id % 2 = 1")} nb),
o_cnt AS (SELECT doc_id, count(*) AS n_old_dups
          FROM {scored(op)} q WHERE est >= {est_threshold!r}e0
          GROUP BY doc_id),
n_cnt AS (SELECT doc_id, count(*) AS n_prior_new_dups
          FROM {scored(np_)} q WHERE est >= {est_threshold!r}e0
          GROUP BY doc_id)
SELECT d.doc_id,
       cast(coalesce(o.n_old_dups, 0) as bigint) AS n_old_dups,
       cast(coalesce(n.n_prior_new_dups, 0) as bigint)
         AS n_prior_new_dups,
       CASE WHEN coalesce(o.n_old_dups, 0) = 0
             AND coalesce(n.n_prior_new_dups, 0) = 0
            THEN 1 ELSE 0 END AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN o_cnt o ON d.doc_id = o.doc_id
LEFT JOIN n_cnt n ON d.doc_id = n.doc_id
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms (corpus term weighting — the classic relevance signal)
# ---------------------------------------------------------------------------

def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-``k`` terms by tf·idf, ties → term asc.

    idf = ln((N+1)/(df+1)) with N = corpus doc count (smoothed so
    df = N keeps a positive weight).  Output columns are INTEGERS only
    (doc_id, term, tf, df_docs, rk): the float score is used solely
    for ordering, so engine libm ulp differences cannot surface in
    values — only in rank order, and only if two distinct (tf, df)
    pairs collide within ~1e-15 relative (the margin pytest measures
    the driver fixture's actual rank-boundary gap).

    Shuffle shape at 10¹² docs: tokenize is map-only; tf is one
    groupBy(doc_id, term); df is a partial-agg'd groupBy(term) over
    the already-aggregated tf table; the tf⋈df join shuffles on term (AQE
    broadcasts it when the vocabulary fits); final top-k is a bounded
    window per doc_id.  N rides in as a literal from an eager
    ``docs.count()`` — one columnless scan, the same eager-scalar
    contract as cellprune's bbox probe.
    """
    n_docs = docs.count()
    tf = (tokens(docs).groupBy("doc_id", F.col("tok").alias("term"))
          .agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    score = (F.col("tf").cast("double")
             * F.log(F.lit(float(n_docs + 1))
                     / (F.col("df_docs") + F.lit(1)).cast("double")))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term").asc())
    return (tf.join(dfreq, "term")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("doc_id", "term", "tf", "df_docs", "rk"))


def tfidf_top_terms_sql(k: int = 3) -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM {TOKENS_SQL} t GROUP BY doc_id, tok),
dfreq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df_docs, rk FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_docs,
         cast(row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY cast(tf.tf as double)
                    * ln(cast(n.n_docs + 1 as double)
                         / cast(dfreq.df_docs + 1 as double)) DESC,
                    tf.term ASC) as int) AS rk
  FROM tf JOIN dfreq USING (term) CROSS JOIN n) q
WHERE rk <= {k}
"""
