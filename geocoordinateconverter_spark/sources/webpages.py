"""Web-page corpus synthesis + schema (input_hint, FIXTURES.md §1).

The engine's production input is an Iceberg table of Common-Crawl-style
pages ``(url, warc_ts, html, text, lang)`` at 10¹²-document scale
(BASELINE.json input_hint).  No Iceberg catalog exists in this sandbox,
so :func:`webpages_sql` derives the FIXTURES.md §1 synthetic
analogue **deterministically from the driver's read-only
``documents.parquet``** — every derived value is pure integer/float
arithmetic + ``printf``-style formatting on ``doc_id``/``text``, and the
SQL text is dialect-neutral, so Spark and the DuckDB oracle build the
table bit-for-bit from the same string.

Coordinate mentions embedded in ``text`` follow the reference's
free-format parser surface (gk-slo.c + util.c — SURVEY.md §3.1 S2):
decimal-degree pairs, DMS pairs, and labeled D48/GK ``x=… y=…`` pairs
(some with the 5 000 000 m absolute-northing form).  The original
document text is kept as a byte-identical prefix per url — the
north_star's passthrough invariant.

At 100 TB the equivalent stage is a pure projection over the Iceberg
scan (no shuffle); everything here is Catalyst built-ins inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import sqlgen as sg

# mention cadence: docs with doc_id % 4 == 0 get a decimal-degree pair,
# % 4 == 1 a GK x/y pair, % 4 == 2 a DMS pair, % 4 == 3 no mention.


def _mention_exprs() -> dict[str, str]:
    """Dialect-neutral SQL expressions for the mention text, keyed off
    integer column ``doc_id``; shared verbatim by Spark and DuckDB."""
    w = sg.wgs_points_sql("doc_id")
    gk = sg.gk_points_sql("doc_id")
    dd = (f"concat(' lat ', printf('%.6f', {w['fi']}), "
          f"'N lon ', printf('%.6f', {w['la']}), 'E')")
    gkm = (f"concat(' x=', printf('%.3f', {gk['x']}), "
           f"' y=', printf('%.3f', {gk['y']}), "
           f"' H=', printf('%.3f', {gk['h']}))")
    # DMS: degrees/minutes computed by integer math on scaled seconds
    tot_fi = f"cast(floor(({w['fi']}) * 3600.0e0 * 10.0e0) as bigint)"
    tot_la = f"cast(floor(({w['la']}) * 3600.0e0 * 10.0e0) as bigint)"
    # NB: '/' is float division on integers in BOTH dialects (7/2=3.5),
    # so integer division is spelled cast(floor(a / b) as bigint) —
    # exact for these magnitudes (< 2^53).
    idiv = lambda a, b: f"cast(floor(({a}) / {b}.0e0) as bigint)"  # noqa: E731
    dms = (f"concat(' ', cast({idiv(tot_fi, 36000)} as string), 'd', "
           f"cast({idiv(f'({tot_fi}) % 36000', 600)} as string), 'm', "
           f"printf('%.1f', cast(({tot_fi}) % 600 as double) / 10.0e0), 's ', "
           f"cast({idiv(tot_la, 36000)} as string), 'd', "
           f"cast({idiv(f'({tot_la}) % 36000', 600)} as string), 'm', "
           f"printf('%.1f', cast(({tot_la}) % 600 as double) / 10.0e0), 's')")
    mention = (f"(case when doc_id % 4 = 0 then {dd} "
               f"when doc_id % 4 = 1 then {gkm} "
               f"when doc_id % 4 = 2 then {dms} else '' end)")
    return {"mention": mention}


# deterministic crawl timestamp (BASELINE.json input_hint column
# warc_ts) built by string assembly — the only timestamp construction
# with identical syntax AND semantics in Spark SQL and DuckDB
WARC_TS_SQL = ("cast(concat('2024-01-', "
               "lpad(cast(1 + doc_id % 28 as string), 2, '0'), ' ', "
               "lpad(cast(doc_id % 24 as string), 2, '0'), ':', "
               "lpad(cast(doc_id % 60 as string), 2, '0'), ':00') "
               "as timestamp)")


def webpages_sql(documents: str = "documents") -> str:
    """Dialect-neutral SELECT producing the webpages table from the
    ``documents`` view: (url, warc_ts, doc_id, page_text, lang) — the
    BASELINE.json input_hint shape (url, warc_ts, html, text, lang),
    except the ``html: binary`` column, which is attached Spark-side
    (operators/multimodal.html_binary) because binary ``encode`` has
    different arity in the two dialects; the hint-shape fidelity query
    (``webpages_hint_schema``) covers it end-to-end."""
    m = _mention_exprs()["mention"]
    return f"""
(SELECT concat('https://example.si/page/', cast(doc_id as string)) AS url,
        {WARC_TS_SQL} AS warc_ts,
        doc_id,
        concat(text, {m}) AS page_text,
        lang
 FROM {documents})
"""


# ---------------------------------------------------------------------------
# Geoparser (SURVEY.md §3.1 S2 Spark mapping): regexp extraction over
# page text → typed coordinate candidates.  Patterns are kept to the
# regex subset with identical semantics in Java regex (Spark) and RE2
# (DuckDB): literal text, [0-9], quantifiers, groups.
#
# HARD RULE (r4): patterns must contain NO backslash.  These strings
# are embedded in SQL literals run by BOTH engines, and Spark SQL
# unescapes '\.' in a single-quoted literal to a bare '.' wildcard
# while DuckDB keeps it — the same source text silently runs two
# DIFFERENT regexes (measured: Spark matched 'x=1a5', DuckDB didn't).
# Escape dots as the character class [.] instead; pytest
# test_geoparse_regex_dialect_parity pins the divergent case.
# ---------------------------------------------------------------------------

RE_DD = r"lat ([0-9]+[.][0-9]+)N lon ([0-9]+[.][0-9]+)E"
RE_GK = r"x=([0-9]+[.][0-9]+) y=([0-9]+[.][0-9]+) H=([0-9]+[.][0-9]+)"
RE_DMS = r"([0-9]+)d([0-9]+)m([0-9]+[.][0-9])s ([0-9]+)d([0-9]+)m([0-9]+[.][0-9])s"


def multi_mention_pages_sql(documents: str = "documents") -> str:
    """Pages where docs gain a SECOND decimal-degree mention when
    doc_id % 5 = 0 — exercises the array→explode parse path (a page can
    contain several coordinates; SURVEY.md §2.2 'geoparsing stage').

    Coordinates here use a 2^20-denominator mix (decimal-MESSY doubles):
    Java's format_string rounds the SHORTEST DECIMAL REPR half-up while
    C printf rounds the exact binary value, so a value whose shortest
    repr has exactly 7 decimals ending in '5' (which a 10^6-denominator
    mix produces for ~odd keys) formats differently across engines.
    Binary-denominator values have ~17-significant-digit shortest reprs
    whose 7th decimal always matches the exact expansion → identical
    text on both sides for every key residue."""
    def _pt(key: str) -> dict[str, str]:
        u1 = (f"(cast((({key}) * 2654435761) % 1048576 as double) "
              f"/ 1048576.0e0)")
        u2 = (f"(cast((({key}) * 1597334677) % 1048576 as double) "
              f"/ 1048576.0e0)")
        return {"fi": f"(45.25e0 + 1.75e0 * {u1})",
                "la": f"(13.25e0 + 3.5e0 * {u2})"}
    w1 = _pt("doc_id")
    w2 = _pt("(doc_id + 7777)")
    m1 = (f"concat(' lat ', printf('%.6f', {w1['fi']}), "
          f"'N lon ', printf('%.6f', {w1['la']}), 'E')")
    m2 = (f"(case when doc_id % 5 = 0 then "
          f"concat(' lat ', printf('%.6f', {w2['fi']}), "
          f"'N lon ', printf('%.6f', {w2['la']}), 'E') else '' end)")
    return f"""
(SELECT concat('https://example.si/page/', cast(doc_id as string)) AS url,
        doc_id, concat(text, {m1}, {m2}) AS page_text
 FROM {documents})
"""


# one regex, ALL matches: Spark regexp_extract_all + posexplode;
# DuckDB regexp_extract_all + unnest with ordinality
RE_DD_ONE = r"lat ([0-9]+[.][0-9]+)N"
RE_DD_LON = r"lon ([0-9]+[.][0-9]+)E"


def geoparse_multi_spark(pages):
    """All decimal-degree mentions per page → one row each (url,
    mention_idx, fi, la) — regexp_extract_all → arrays_zip → posexplode,
    pure Catalyst."""
    fis = F.expr(f"regexp_extract_all(page_text, '{RE_DD_ONE}', 1)")
    las = F.expr(f"regexp_extract_all(page_text, '{RE_DD_LON}', 1)")
    return (pages
            .select("url", F.posexplode(F.arrays_zip(fis.alias("f"),
                                                     las.alias("l")))
                    .alias("mention_idx", "m"))
            .select("url", "mention_idx",
                    F.col("m.f").cast("double").alias("fi"),
                    F.col("m.l").cast("double").alias("la")))


def geoparse_multi_sql(src: str) -> str:
    return f"""
(SELECT url, cast(i - 1 as int) AS mention_idx,
        cast(f as double) AS fi, cast(l as double) AS la
 FROM (
   SELECT url,
          unnest(regexp_extract_all(page_text, '{RE_DD_ONE}', 1)) AS f,
          unnest(regexp_extract_all(page_text, '{RE_DD_LON}', 1)) AS l,
          generate_subscripts(regexp_extract_all(page_text, '{RE_DD_ONE}', 1), 1) AS i
   FROM {src}) q)
"""


def geoparse_dd_sql(src: str) -> str:
    """Decimal-degree mentions → (url, fi, la); dialect-neutral via
    regexp_extract(text, pattern, group) which exists in both engines."""
    return f"""
(SELECT url,
        cast(regexp_extract(page_text, '{RE_DD}', 1) as double) AS fi,
        cast(regexp_extract(page_text, '{RE_DD}', 2) as double) AS la
 FROM {src}
 WHERE regexp_extract(page_text, '{RE_DD}', 1) <> '')
"""


def geoparse_gk_sql(src: str) -> str:
    return f"""
(SELECT url, doc_id,
        cast(regexp_extract(page_text, '{RE_GK}', 1) as double) AS x,
        cast(regexp_extract(page_text, '{RE_GK}', 2) as double) AS y,
        cast(regexp_extract(page_text, '{RE_GK}', 3) as double) AS h
 FROM {src}
 WHERE regexp_extract(page_text, '{RE_GK}', 1) <> '')
"""


def classify_pair_sql(src: str, c1: str = "c1", c2: str = "c2") -> str:
    """Free-format coordinate-pair classification — reimplementation of
    the reference's magnitude dispatch + ``-r`` order reversal
    (gk-slo.c parse loop, SURVEY.md §3.1 S2): values < 90 are degrees
    (φ is the one in the latitude band, so a (λ, φ) pair is detected
    and swapped); values ≥ 1000 are projected metres (easting lives in
    the 300–700 km band, reduced/absolute northing below/above it).
    Emits ``kind`` ('geo'|'xy'|'unknown') and normalized (a1, a2) =
    (φ, λ) or (x northing, y easting).  Pure CASE arithmetic — runs
    verbatim in Spark SQL and DuckDB."""
    is_lat = lambda c: f"({c} >= 44.0e0 and {c} <= 48.0e0)"  # noqa: E731
    is_lon = lambda c: f"({c} >= 12.0e0 and {c} <= 18.0e0)"  # noqa: E731
    is_east = lambda c: f"({c} >= 300000.0e0 and {c} <= 700000.0e0)"  # noqa: E731
    is_north = lambda c: (f"(({c} >= 0.0e0 and {c} < 300000.0e0) "
                          f"or {c} > 4000000.0e0)")  # noqa: E731
    return f"""
(SELECT *,
   case
     when {is_lat(c1)} and {is_lon(c2)} then 'geo'
     when {is_lon(c1)} and {is_lat(c2)} then 'geo'
     when {is_north(c1)} and {is_east(c2)} then 'xy'
     when {is_east(c1)} and {is_north(c2)} then 'xy'
     else 'unknown' end AS kind,
   case
     when {is_lat(c1)} and {is_lon(c2)} then {c1}
     when {is_lon(c1)} and {is_lat(c2)} then {c2}
     when {is_north(c1)} and {is_east(c2)} then {c1}
     when {is_east(c1)} and {is_north(c2)} then {c2}
     end AS a1,
   case
     when {is_lat(c1)} and {is_lon(c2)} then {c2}
     when {is_lon(c1)} and {is_lat(c2)} then {c1}
     when {is_north(c1)} and {is_east(c2)} then {c2}
     when {is_east(c1)} and {is_north(c2)} then {c1}
     end AS a2
 FROM {src})
"""


# ---------------------------------------------------------------------------
# Wider parser surface (util.c F4/F1 — SURVEY.md §3.5): locale comma
# decimals, °'" symbol DMS, optional height with default-0, and the
# reference's -r swapped-order pairs.  One dialect-neutral fixture
# (locale_pages_sql) + four parsers; every expression runs verbatim in
# Spark SQL and DuckDB.
# ---------------------------------------------------------------------------

RE_DD_COMMA = r"lat ([0-9]+,[0-9]+) lon ([0-9]+,[0-9]+)"
# regex with literal degree/quote symbols; ' doubled when embedded in a
# SQL string literal (both engines treat ° " ' as plain literals)
RE_SYM_DMS = ("([0-9]+)°([0-9]+)''([0-9]+[.][0-9])\" "
              "([0-9]+)°([0-9]+)''([0-9]+[.][0-9])\"")
RE_ALT = r"alt ([0-9]+[.][0-9])m"
RE_POS_PAIR = r"pos ([0-9]+[.][0-9]+) ([0-9]+[.][0-9]+)"


def locale_pages_sql(documents: str = "documents") -> str:
    """Pages whose mentions exercise the widened surface, by doc_id%4:
    0 → comma-decimal DD; 1 → symbol DMS (``46°2'55.0"``); 2 → DD with
    height suffix when doc_id%8==2, WITHOUT it when %8==6 (drives the
    missing-height→0 default); 3 → swapped bare pair (lon first, the
    ``-r`` case detected by magnitude).

    Coordinates use the 2^20 binary-denominator mix and the height an
    exact-1-decimal integer mix — the printf-midpoint-safe forms (Java
    HALF_UP on shortest repr vs C exact-expansion rounding; see
    multi_mention_pages_sql's docstring for the full argument)."""
    u1 = "(cast(((doc_id) * 2654435761) % 1048576 as double) / 1048576.0e0)"
    u2 = "(cast(((doc_id) * 1597334677) % 1048576 as double) / 1048576.0e0)"
    w = {"fi": f"(45.25e0 + 1.75e0 * {u1})",
         "la": f"(13.25e0 + 3.5e0 * {u2})",
         # exactly one decimal digit -> %.1f never rounds
         "h": "(cast(2000 + ((doc_id) * 40503) % 18000 as double) / 10.0e0)"}
    comma = (f"concat(' lat ', replace(printf('%.6f', {w['fi']}), '.', ','), "
             f"' lon ', replace(printf('%.6f', {w['la']}), '.', ','))")
    idiv = lambda a, b: f"cast(floor(({a}) / {b}.0e0) as bigint)"  # noqa: E731

    def _sym(v: str) -> str:
        tot = f"cast(floor(({v}) * 36000.0e0) as bigint)"
        return (f"cast({idiv(tot, 36000)} as string), '°', "
                f"cast({idiv(f'({tot}) % 36000', 600)} as string), '''', "
                f"printf('%.1f', cast(({tot}) % 600 as double) / 10.0e0), '\"'")

    sym = f"concat(' ', {_sym(w['fi'])}, ' ', {_sym(w['la'])})"
    dd_h = (f"concat(' lat ', printf('%.6f', {w['fi']}), "
            f"'N lon ', printf('%.6f', {w['la']}), 'E', "
            f"case when doc_id % 8 = 2 then "
            f"concat(' alt ', printf('%.1f', {w['h']}), 'm') else '' end)")
    swapped = (f"concat(' pos ', printf('%.6f', {w['la']}), ' ', "
               f"printf('%.6f', {w['fi']}))")
    mention = (f"(case when doc_id % 4 = 0 then {comma} "
               f"when doc_id % 4 = 1 then {sym} "
               f"when doc_id % 4 = 2 then {dd_h} else {swapped} end)")
    return f"""
(SELECT concat('https://example.si/page/', cast(doc_id as string)) AS url,
        doc_id, concat(text, {mention}) AS page_text
 FROM {documents})
"""


def geoparse_comma_sql(src: str) -> str:
    """util.c F4: locale comma-decimal numerics — replace then cast."""
    # nullif keeps the cast ANSI-safe on non-matching rows (Spark 4
    # evaluates projections eagerly enough that the WHERE guard alone
    # does not protect the cast)
    g = lambda i: (f"cast(nullif(replace(regexp_extract(page_text, "
                   f"'{RE_DD_COMMA}', {i}), ',', '.'), '') as double)")  # noqa: E731
    return f"""
(SELECT url, {g(1)} AS fi, {g(2)} AS la
 FROM {src}
 WHERE regexp_extract(page_text, '{RE_DD_COMMA}', 1) <> '')
"""


def geoparse_symbol_dms_sql(src: str) -> str:
    """util.c F1: DMS with °'\" symbols → decimal degrees."""
    g = lambda i: (f"cast(nullif(regexp_extract(page_text, "
                   f"'{RE_SYM_DMS}', {i}), '') as double)")  # noqa: E731
    return f"""
(SELECT url,
        {g(1)} + {g(2)} / 60.0e0 + {g(3)} / 3600.0e0 AS fi,
        {g(4)} + {g(5)} / 60.0e0 + {g(6)} / 3600.0e0 AS la
 FROM {src}
 WHERE regexp_extract(page_text, '{RE_SYM_DMS}', 1) <> '')
"""


def geoparse_height_default_sql(src: str) -> str:
    """Optional third coordinate: absent height defaults to 0
    (gk-slo.c line parse — SURVEY.md §2.1 'missing height defaults
    to 0'); emits has_h so the default path is visible/checkable."""
    return f"""
(SELECT url,
        cast(nullif(regexp_extract(page_text, '{RE_DD}', 1), '') as double) AS fi,
        cast(nullif(regexp_extract(page_text, '{RE_DD}', 2), '') as double) AS la,
        coalesce(cast(nullif(regexp_extract(page_text, '{RE_ALT}', 1), '')
                      as double), 0.0e0) AS h,
        (regexp_extract(page_text, '{RE_ALT}', 1) <> '') AS has_h
 FROM {src}
 WHERE regexp_extract(page_text, '{RE_DD}', 1) <> '')
"""


def geoparse_swapped_sql(src: str) -> str:
    """Bare unlabeled pair in lon-lat order (the reference's ``-r``):
    parsed, then normalized to (fi, la) by the same magnitude bands the
    pair classifier uses — a (λ, φ) pair is detected and swapped.

    The geo test runs first and names each value twice, not the
    classifier's 16 times: a pair is 'geo' iff its smaller value lies in
    the longitude band [12, 18] and its larger in the latitude band
    [44, 48] (disjoint bands, latitude above); ``abs(v - mid) <= half``
    is exact for these closed bands (Sterbenz).  Catalyst pushes this
    filter below the page construction and inlines the extraction at
    every mention — with ``kind = 'geo'`` that was 37 extractions and a
    whole-stage method beyond the JVM's 64 KB limit.  ``try_cast`` maps
    a missing match to NULL with one extraction, so no separate match
    test is needed."""
    c = lambda i: (f"try_cast(regexp_extract(page_text, '{RE_POS_PAIR}', "
                   f"{i}) as double)")  # noqa: E731
    pairs = (f"(SELECT url, c1, c2 FROM "
             f"(SELECT url, {c(1)} AS c1, {c(2)} AS c2 FROM {src}) q_e "
             f"WHERE abs(least(c1, c2) - 15.0e0) <= 3.0e0 "
             f"AND abs(greatest(c1, c2) - 46.0e0) <= 2.0e0) q_p")
    return f"""
(SELECT url, a1 AS fi, a2 AS la, kind
 FROM {classify_pair_sql(pairs, 'c1', 'c2')} q)
"""


def geoparse_dms_sql(src: str) -> str:
    """DMS mentions → decimal degrees (util.c DMS parse — SURVEY.md
    §3.5 F1), as pure arithmetic on the extracted groups."""
    g = lambda i: f"cast(regexp_extract(page_text, '{RE_DMS}', {i}) as double)"  # noqa: E731
    return f"""
(SELECT url,
        {g(1)} + {g(2)} / 60.0e0 + {g(3)} / 3600.0e0 AS fi,
        {g(4)} + {g(5)} / 60.0e0 + {g(6)} / 3600.0e0 AS la
 FROM {src}
 WHERE regexp_extract(page_text, '{RE_DMS}', 1) <> '')
"""
