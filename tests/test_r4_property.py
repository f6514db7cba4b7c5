"""Property tests: the map-only kernels verified against
INDEPENDENT pure-Python references and the DuckDB oracles on
seeded random inputs, and star connected components against a
union-find."""
from __future__ import annotations

import hashlib
import random

import numpy as np

from geocoordinateconverter_spark.operators import textdedup as td


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _random_texts(seed: int, n: int = 120) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    words = ["the", "quick", "fox", "je", "in", "se", "data", "x1",
             "gauss", "krueger", "a", "bb", "ccc", "dddd", ""]
    rows = []
    for i in range(n):
        k = rng.randint(0, 40)
        # random runs of spaces exercise empty-token filtering
        text = " ".join(rng.choice(words) for _ in range(k))
        rows.append((i, text))
    rows.append((n, ""))          # no tokens at all
    rows.append((n + 1, "   "))   # only separators
    rows.append((n + 2, "solo"))  # single token
    return rows


def _toks(text: str) -> list[str]:
    return [t for t in text.split(" ") if t != ""]


def test_rolling_fp_matches_python_reference(spark):
    rows = _random_texts(41)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.rolling_fp, r.n_tok)
           for r in td.rolling_fingerprint(docs).collect()}
    exp = {}
    for i, text in rows:
        toks = _toks(text)
        if not toks:
            continue
        acc = 0
        for t in toks:
            acc = (acc * td.ROLL_B + _hash60(t) % td.ROLL_P) % td.ROLL_P
        exp[i] = (acc, len(toks))
    assert got == exp and len(exp) > 50


def test_simhash_matches_python_reference(spark):
    rows = _random_texts(42)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in td.simhash(docs).collect()}
    exp = {}
    for i, text in rows:
        toks = _toks(text)
        if not toks:
            continue
        hs = [_hash60(t) for t in toks]
        fp = 0
        for b in range(td.SIMHASH_BITS):
            s = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if s > 0:
                fp |= 1 << b
        exp[i] = fp
    assert got == exp and len(exp) > 50


def test_minhash_sigs_match_python_reference(spark):
    rows = _random_texts(43, n=60)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.perm): r.sig
           for r in td.minhash_signatures(docs).collect()}
    exp = {}
    for i, text in rows:
        toks = set(_toks(text))
        if not toks:
            continue
        for p in range(td.K_MINHASH):
            exp[(i, p)] = min(_hash60(f"{p}:{t}") for t in toks)
    assert got == exp and len(exp) > 0


def test_gram_arrays_match_python_reference(spark):
    rows = _random_texts(44, n=60)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: sorted(r.grams)
           for r in td._gram_arrays(docs, n=3).collect()}
    for i, text in rows:
        toks = _toks(text)
        grams = sorted({" ".join(toks[j:j + 3])
                        for j in range(len(toks) - 2)}) \
            if len(toks) >= 3 else []
        assert got[i] == grams, i


def test_multispace_adjacency_kernel_twin_oracle_agree(spark):
    """Regression: on texts with runs of spaces, positional oracles
    that used RAW split positions broke adjacency (and even produced
    negative rolling-hash exponents) while the kernels use filtered
    adjacency.  The kernel and the DuckDB oracle must agree on the
    filtered-adjacency semantics."""
    import duckdb
    import pandas as pd

    rows = [(0, "a  b c"), (1, "  x y  z  "), (2, "p q r s"),
            (3, "one"), (4, ""), (5, "t  t t   t")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))

    # rolling fingerprint: kernel == oracle
    k = {r.doc_id: (r.rolling_fp, r.n_tok)
         for r in td.rolling_fingerprint(docs).collect()}
    o = {int(r[0]): (int(r[1]), int(r[2]))
         for r in con.execute(td.rolling_fingerprint_sql()).fetchall()}
    assert k == o and len(k) == 5

    # repetition ratio: kernel == oracle
    k = {r.doc_id: (r.top_gram_count, r.n_grams)
         for r in td.repetition_ratio(docs).collect()}
    o = {int(r[0]): (int(r[1]), int(r[2]))
         for r in con.execute(td.repetition_ratio_sql()).fetchall()}
    # docs 0,1,2,5 have ≥3 tokens after filtering
    assert k == o and set(k) == {0, 1, 2, 5}
    assert k[0] == (1, 1)       # 'a b c' — one trigram
    assert k[5] == (2, 2)       # 't t t' twice

    # n-gram jaccard: kernel path vs oracle on the same table
    kj = {(r.doc_a, r.doc_b): r.n_inter
          for r in td.ngram_jaccard_pairs(docs).collect()}
    oj = {(int(r[0]), int(r[1])): int(r[2])
          for r in con.execute(td.ngram_jaccard_sql()).fetchall()}
    assert kj == oj


def test_shapefile_zm_roundtrip_property(tmp_path):
    """Property: any finite float64 vertex set (any magnitude/sign,
    including NODATA-range measures) roundtrips bit-exactly through
    every Z/M shape family, with part structure preserved."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geocoordinateconverter_spark.sources import shapefile as shp

    finite = st.floats(allow_nan=False, allow_infinity=False, width=64)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(  # records: list of parts: list of (x,y,z,m)
        st.lists(st.lists(st.tuples(finite, finite, finite, finite),
                          min_size=1, max_size=6),
                 min_size=0, max_size=3),
        min_size=1, max_size=4))
    def check(recs):
        for t, w in ((shp.SHP_POLYGONZ, 4), (shp.SHP_POLYLINEM, 3),
                     (shp.SHP_POLYGON, 2)):
            shapes = [[np.array(p, dtype=np.float64)[:, :w]
                       for p in rec] for rec in recs]
            base = str(tmp_path / f"prop{t}")
            shp.write_shp(base, shapes, t)
            st_, got = shp.read_shp(base)
            assert st_ == t and len(got) == len(shapes)
            for srec, grec in zip(shapes, got):
                assert len(srec) == len(grec)
                for sp, gp in zip(srec, grec):
                    np.testing.assert_array_equal(sp, gp)

    check()


def test_geoparse_regex_dialect_parity(spark):
    """The geoparse SQL runs the SAME regex strings through Java regex
    (Spark) and RE2 (DuckDB).  The patterns are plain character
    classes, but the engines must also agree on first-match selection,
    all-match order, and non-match behavior — asserted on adversarial
    texts the fixture corpus never contains."""
    import duckdb
    import pandas as pd

    from geocoordinateconverter_spark.sources import webpages as wp
    texts = [
        "x=1.5 y=2.5 H=3.5",                       # plain
        "x=1.5 y=2.5 H=3.5 x=9.9 y=8.8 H=7.7",     # two matches: first wins
        "x=1.5 y=25 H=3.5",                        # y missing decimals
        "x=001.50000 y=00002.5 H=3.50",            # leading zeros
        "lat 46.05N lon 14.50E",
        "lat 46.05Nlon 14.50E",                    # missing separator
        "lat 46.05N lon 14.50E lat 47.0N",         # dangling extra lat
        "lat 1.2N lat 3.4N lat 5.6N",              # repeated one-sided
        "pre\nx=1.5 y=2.5 H=3.5\npost",            # embedded newlines
        "x=123456789.123456789 y=2.5 H=3.5",       # long digit runs
        "",                                        # empty
        "no coordinates at all",
        # THE divergent case (r4): with a backslash-escaped dot in the
        # pattern, Spark's SQL-literal unescaping turned '\.' into a
        # bare '.' wildcard and matched '1a5' while DuckDB did not —
        # patterns now use [.] and must agree that this does NOT match
        "x=1a5 y=2.5 H=3.5",
        "lat 46x05N lon 14.50E",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "page_text": texts})
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("pages", pdf)

    for pat, grp in ((wp.RE_GK, 1), (wp.RE_GK, 2), (wp.RE_GK, 3),
                     (wp.RE_DD, 1), (wp.RE_DD, 2)):
        q = (f"SELECT doc_id, regexp_extract(page_text, '{pat}', {grp}) "
             f"AS v FROM pages ORDER BY doc_id")
        sdf.createOrReplaceTempView("pages")
        a = [r.v for r in spark.sql(q).collect()]
        b = [r[1] for r in con.execute(q).fetchall()]
        assert a == b, (pat, grp, a, b)

    q_all = (f"SELECT doc_id, regexp_extract_all(page_text, "
             f"'{wp.RE_DD_ONE}', 1) AS vs FROM pages ORDER BY doc_id")
    a = [list(r.vs) for r in spark.sql(q_all).collect()]
    b = [list(r[1]) for r in con.execute(q_all).fetchall()]
    assert a == b


def _union_find_labels(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # union-by-min keeps every root the component minimum, so find(v)
    # IS the min-id label; only nodes that touch an edge are labeled
    touched = {v for e in edges for v in e}
    return {v: find(v) for v in touched}


def test_cc_star_random_graphs_match_union_find(spark):
    """Erdős–Rényi graphs at several densities + adversarial shapes:
    the star algorithm's labels must equal union-find's
    min-id-per-component."""
    cases = []
    for seed, n, p in ((1, 30, 0.05), (2, 30, 0.12), (3, 50, 0.03)):
        rng = random.Random(seed)
        edges = [(a, b) for a in range(n) for b in range(a + 1, n)
                 if rng.random() < p]
        cases.append((n, edges))
    cases.append((20, [(i, i + 1) for i in range(19)]))      # path
    cases.append((10, [(0, i) for i in range(1, 10)]))       # star
    cases.append((12, [(a, b) for a in range(6)               # 2 cliques
                       for b in range(a + 1, 6)]
                  + [(a, b) for a in range(6, 12)
                     for b in range(a + 1, 12)]))
    for n, edges in cases:
        if not edges:
            continue
        e = spark.createDataFrame(edges, "src long, dst long")
        got = {r.doc_id: r.label for r in td._cc_star(e, 25).collect()}
        exp = _union_find_labels(n, edges)
        assert got == exp, (n, len(edges))


# ---- r5 wave-3 spatial joins: seeded-random property tests ---------------

def test_radius_join_random_points_match_numpy(spark):
    """radius_join (cellprune) on seeded random points — including
    out-of-bbox and boundary-hugging coordinates — equals a NumPy
    brute force exactly, pair set AND float64 dist2."""
    from geocoordinateconverter_spark.operators import knn as knn_op
    rng = np.random.default_rng(57)
    n = 3000
    # 80% in-bbox, 10% out-of-bbox, 10% hugging the bbox edge
    fi = np.concatenate([rng.uniform(45.25, 47.0, int(n * 0.8)),
                         rng.uniform(40.0, 50.0, int(n * 0.1)),
                         np.full(n - int(n * 0.8) - int(n * 0.1), 45.25)])
    la = np.concatenate([rng.uniform(13.25, 16.75, int(n * 0.8)),
                         rng.uniform(10.0, 20.0, int(n * 0.1)),
                         rng.uniform(13.25, 16.75,
                                     n - int(n * 0.8) - int(n * 0.1))])
    import pandas as pd
    df = spark.createDataFrame(
        pd.DataFrame({"k": np.arange(n), "fi": fi, "la": la}))
    got = {(r.k, r.station_id): r.dist2 for r in
           knn_op.radius_join(df, spark).collect()}
    pos = knn_op.station_positions(25)
    dfi = fi[:, None] - pos[None, :, 0]
    dla = knn_op.LA_FACTOR * (la[:, None] - pos[None, :, 1])
    d2 = dfi * dfi + dla * dla
    ks, ss = np.nonzero(d2 <= knn_op.RADIUS_DEFAULT ** 2)
    exp = {(int(k), int(s)): d2[k, s] for k, s in zip(ks, ss)}
    assert set(got) == set(exp)
    for key, v in exp.items():
        assert got[key] == v  # bit-exact float64


def test_bbox_join_random_rects_match_numpy(spark):
    """bbox_intersects_join on seeded random rectangles (mixed sizes,
    slivers, grid-edge huggers) equals a NumPy brute force exactly."""
    from geocoordinateconverter_spark.operators import bboxjoin as bj
    rng = np.random.default_rng(91)
    n = 800
    cx = rng.uniform(13.3, 16.7, n)
    cy = rng.uniform(45.3, 46.95, n)
    w = rng.uniform(1e-5, 0.2, n)      # sliver → large
    h = rng.uniform(1e-5, 0.15, n)
    import pandas as pd
    pdf = pd.DataFrame({"k": np.arange(n), "pxmin": cx - w,
                        "pymin": cy - h, "pxmax": cx + w,
                        "pymax": cy + h})
    got = {(r.k, r.mun_id): (r.ox, r.oy) for r in
           bj.bbox_intersects_join(spark.createDataFrame(pdf),
                                   spark).collect()}
    mun = np.array([r[1:] for r in bj.mun_bbox_rows(20)])
    ox = (np.minimum(pdf["pxmax"].to_numpy()[:, None], mun[None, :, 2])
          - np.maximum(pdf["pxmin"].to_numpy()[:, None], mun[None, :, 0]))
    oy = (np.minimum(pdf["pymax"].to_numpy()[:, None], mun[None, :, 3])
          - np.maximum(pdf["pymin"].to_numpy()[:, None], mun[None, :, 1]))
    ks, ms = np.nonzero((ox > 0) & (oy > 0))
    exp = {(int(k), int(m)): (ox[k, m], oy[k, m]) for k, m in zip(ks, ms)}
    assert set(got) == set(exp) and len(exp) > 100
    for key, v in exp.items():
        assert got[key] == v  # bit-exact float64 extents
