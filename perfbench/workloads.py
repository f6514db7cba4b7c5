"""The benchmark workloads: seeded input generation, the Spark pipelines
(public engine functions only), the traced prefixes, and the DuckDB twins
that give each action's expected fingerprint.

Each workload exposes:

* ``tables`` and ``generate(seed, out_dir)`` → ``{table: parquet dir}``,
  each table written as several files so a scan splits across every
  core, as a real multi-file scan does.
* ``register(spark, paths)`` → temp views (the input-registration half
  of ``setup_s``).
* ``actions`` — the actions of one iteration, each an ``Action`` whose
  ``build(spark, cache)`` composes the DataFrame, whose ``spec`` names
  the fingerprinted columns (see fingerprint.py) and whose ``oracle``
  is the DuckDB twin over the same parquet files.
* ``prefixes`` — for the traced run: ``(layer_time_metric, build)``
  pairs in pipeline order; a layer's time is its prefix's noop-sink
  wall time minus the previous prefix's.
* ``kernels`` — ``(metric, NumPy chain, DuckDB query of its input
  points)`` for the traced run's direct single-thread kernel call.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from geocoordinateconverter_spark import aft, cells, geodesy, kernels
from geocoordinateconverter_spark.functions import sqlgen as sg
from geocoordinateconverter_spark.operators import curation as cu
from geocoordinateconverter_spark.operators import knn as knn_op
from geocoordinateconverter_spark.operators import pip as pip_op
from geocoordinateconverter_spark.operators import similarity as sim
from geocoordinateconverter_spark.operators import textdedup as td
from geocoordinateconverter_spark.operators import tiles as tiles_op
from geocoordinateconverter_spark.sources import webpages as wp

FILES = 8          # parquet files per table, so every scan splits across the cores
ROW_GROUPS = 2     # row groups per file

# Fixture-like text: the 30-word vocabulary and 10..100-token lengths
# of the repo's documents fixture.
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
_VOCAB_LEN = np.array([len(w) for w in VOCAB])
_VOCAB_BYTES = np.frombuffer("".join(w + " " for w in VOCAB).encode(), np.uint8)
_VOCAB_OFF = np.cumsum(_VOCAB_LEN + 1) - (_VOCAB_LEN + 1)
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SOURCES = np.array([f"src{i}" for i in range(20)])

# Workload sizes (rows per iteration).
PAGES = 120_000
POINTS = 180_000
CORPUS_DOCS = 10_000
CORPUS_VECS = 4_000
N_MUN_BENCH = 212          # bench-scale municipality count (pip.py docstring)


@dataclass
class Action:
    name: str
    build: Callable           # (spark, cache: list) -> DataFrame
    spec: list
    oracle: str               # DuckDB SQL over the registered views


@dataclass
class Prefix:
    metric: str | None        # layer time metric this prefix closes
    build: Callable           # (spark, cache) -> DataFrame


def _write(table: pa.Table, path: str) -> str:
    """``table`` as a directory of FILES parquet files of ROW_GROUPS row
    groups each: Spark packs small files into read tasks, so even a
    2 MB table is scanned by every core, as a real multi-file scan is."""
    os.makedirs(path)
    per_file = -(-table.num_rows // FILES)
    for i in range(FILES):
        part = table.slice(i * per_file, per_file)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=max(1, -(-part.num_rows // ROW_GROUPS)))
    return path


def _texts(rng: np.random.Generator, n: int) -> pa.Array:
    """``n`` space-separated texts of 10..100 uniform vocabulary tokens,
    gathered into one byte buffer (no per-document Python)."""
    lens = rng.integers(10, 101, n)
    tok = rng.integers(0, len(VOCAB), int(lens.sum()))
    last = np.cumsum(lens) - 1
    width = _VOCAB_LEN[tok] + 1          # the word and the space after it
    width[last] -= 1                     # no space after a document's last word
    start = np.cumsum(width) - width
    buf = np.empty(int(width.sum()), np.uint8)
    # byte j of token k is byte _VOCAB_OFF[tok[k]] + (j - start[k]) of
    # "w0 w1 … w29 "; gathered a block of tokens at a time
    for a in range(0, len(tok), 1 << 20):
        b = min(a + (1 << 20), len(tok))
        lo, hi = start[a], start[b - 1] + width[b - 1]
        shift = np.repeat(_VOCAB_OFF[tok[a:b]] - start[a:b], width[a:b])
        buf[lo:hi] = _VOCAB_BYTES[np.arange(lo, hi) + shift]
    offsets = np.zeros(n + 1, np.int32)
    offsets[1:] = start[last] + width[last]
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(buf))


def _documents(rng: np.random.Generator, ids: np.ndarray,
               texts: pa.Array) -> pa.Table:
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array(SOURCES[rng.integers(0, len(SOURCES), n)]),
        "n_chars": pc.utf8_length(texts).cast(pa.int64()),
    })


def _pip_oracle(points: str, n_mun: int) -> str:
    """(point columns…, mun_id) rows of the PIP twin: each polygon's
    bounding box as a range-join condition (so DuckDB need not test
    every point against every polygon), then the repo's convex
    containment test ``pip_oracle_condition``."""
    xs = ", ".join(f"m.v{v}x" for v in range(pip_op.N_VERTS))
    ys = ", ".join(f"m.v{v}y" for v in range(pip_op.N_VERTS))
    mun = (f"(SELECT m.*, least({xs}) AS x0, greatest({xs}) AS x1, "
           f"least({ys}) AS y0, greatest({ys}) AS y1 "
           f"FROM {pip_op.municipalities_values_sql(n_mun)} m)")
    return (f"(SELECT p.*, m.mun_id AS mun_id FROM {points} p JOIN {mun} m "
            f"ON p.la >= m.x0 AND p.la <= m.x1 AND p.fi >= m.y0 AND p.fi <= m.y1 "
            f"WHERE {pip_op.pip_oracle_condition()})")


# ---------------------------------------------------------------------------
# pages chain — the entry() chain at bench scale
# ---------------------------------------------------------------------------

class PagesChain:
    """Pages → GK regex → t=3 datum UDF → PIP (20 polygons) → tiles by
    (cell, mun_id), with the FIXTURES §1 skew."""

    def generate(self, seed: int, out_dir: str) -> dict:
        rng = np.random.default_rng([seed, 1])
        # doc_id drives the mention kind (doc_id % 4) and the FIXTURES §1
        # skew (60 % Ljubljana cluster); a seeded base keeps the cadence
        # and moves every coordinate.  Ids stay < 2**31 so the mention
        # mixing products fit in bigint.
        base = int(rng.integers(0, 1_000_000_000))
        ids = base + rng.permutation(PAGES).astype(np.int64)
        docs = _documents(rng, ids, _texts(rng, PAGES))
        return {"documents": _write(docs, os.path.join(out_dir, "documents.parquet"))}

    @staticmethod
    def register(spark, paths: dict) -> None:
        spark.read.parquet(paths["documents"]).createOrReplaceTempView("documents")

    def rows(self) -> int:
        return PAGES

    # -- pipeline stages ---------------------------------------------------
    @staticmethod
    def _geoparse(spark):
        return spark.sql(
            f"SELECT * FROM {wp.geoparse_gk_sql(wp.webpages_sql('documents') + ' w')} g")

    @classmethod
    def _convert(cls, spark):
        t3 = kernels.transform_udf(3)
        return (cls._geoparse(spark)
                .withColumn("out", t3("x", "y", "h"))
                .select("url", "out.fi", "out.la", "out.h"))

    @classmethod
    def _pip(cls, spark):
        return pip_op.pip_join(cls._convert(spark), spark)

    @classmethod
    def _tiles(cls, spark, cache=None):
        from pyspark.sql import functions as F
        return (cls._pip(spark)
                .withColumn("cell", kernels.cell_col(F.col("fi"), F.col("la"), 7))
                .groupBy("cell", "mun_id")
                .agg(F.count("*").alias("n_docs"),
                     F.round(F.avg("h"), 3).alias("avg_h")))

    @property
    def actions(self) -> list[Action]:
        pts = sg.t3_sql(wp.geoparse_gk_sql(wp.webpages_sql("documents") + " w") + " g",
                        "url")
        oracle = f"""
SELECT {cells.encode_sql('fi', 'la', 7)} AS cell, mun_id, count(*) AS n_docs,
       round(avg(h), 3) AS avg_h
FROM {_pip_oracle(f"({pts})", 20)} q
GROUP BY cell, mun_id"""
        return [Action("tiles", self._tiles,
                       [("int", "cell"), ("int", "mun_id"), ("int", "n_docs"),
                        ("sum", "avg_h", 0.01)], oracle)]

    @property
    def prefixes(self) -> list[Prefix]:
        return [
            Prefix(None, lambda s, c: s.table("documents")),
            Prefix("sources.webpages.geoparse_s", lambda s, c: self._geoparse(s)),
            Prefix("kernels.udf_s", lambda s, c: self._convert(s)),
            Prefix("operators.pip.join_s", lambda s, c: self._pip(s)),
            Prefix("operators.tiles.agg_s", self._tiles),
        ]

    # direct single-thread call of the chain's NumPy kernel on the
    # parsed GK points (traced run)
    kernels = [("geodesy.gk_to_wgs84_rows_per_s", geodesy.gk_to_wgs84,
                f"SELECT x, y, h FROM "
                f"{wp.geoparse_gk_sql(wp.webpages_sql('documents') + ' w')} g")]


# ---------------------------------------------------------------------------
# points chains — columnar GK points, AFT chain, 212 polygons, kNN
# ---------------------------------------------------------------------------

class PointsChains:
    """Uniform GK points → t=7 AFT chain → PIP (212 polygons) → salted
    tiles; uniform WGS84 points → kNN (k=3).  No text, no hot cells."""

    def generate(self, seed: int, out_dir: str) -> dict:
        rng = np.random.default_rng([seed, 2])
        n = POINTS
        t = pa.table({
            "k": pa.array(rng.permutation(n).astype(np.int64)),
            # D48/GK reduced northing / easting over the working area
            "x": rng.uniform(15_000.0, 200_000.0, n),
            "y": rng.uniform(370_000.0, 630_000.0, n),
            "h": rng.uniform(200.0, 2_000.0, n),
            # independent WGS84 points over the working bbox, for kNN
            "fi": rng.uniform(cells.BBOX_FI_MIN, cells.BBOX_FI_MAX, n),
            "la": rng.uniform(cells.BBOX_LA_MIN, cells.BBOX_LA_MAX, n),
        })
        return {"points": _write(t, os.path.join(out_dir, "points.parquet"))}

    @staticmethod
    def register(spark, paths: dict) -> None:
        spark.read.parquet(paths["points"]).createOrReplaceTempView("points")

    def rows(self) -> int:
        return POINTS

    @staticmethod
    def _convert(spark):
        t7 = kernels.transform_udf(7)
        return (spark.table("points").select("k", "x", "y", "h")
                .withColumn("out", t7("x", "y", "h"))
                .select("k", "out.fi", "out.la", "out.h"))

    @classmethod
    def _pip(cls, spark):
        return pip_op.pip_join(cls._convert(spark), spark, n_mun=N_MUN_BENCH)

    @classmethod
    def _tiles(cls, spark, cache=None):
        return tiles_op.salted_tile_agg(cls._pip(spark), key="k")

    @staticmethod
    def _knn_src(spark):
        return spark.table("points").select("k", "fi", "la")

    @classmethod
    def _knn(cls, spark, cache=None):
        return knn_op.knn_join(cls._knn_src(spark), spark, key="k", k=3)

    @property
    def actions(self) -> list[Action]:
        tm = f"""(SELECT p.k AS k, t.ca * p.x + t.cb * p.y + t.cc AS x,
        t.cd * p.x + t.ce * p.y + t.cf AS y, p.h AS h
 FROM points p
 JOIN {sg.aft_locate_sql('(SELECT k, x, y FROM points) q_src', 'k')} l ON l.k = p.k
 JOIN {sg.aft_values_sql('gk_tm')} t ON t.tri_id = l.tri_id) q_tm"""
        wgs = sg.xy2geo_sql(sg.D96_TM, tm, "k", normalize=False)
        tiles = f"""
SELECT {cells.encode_sql('fi', 'la', 7)} AS cell, count(*) AS n_pts,
       count(DISTINCT k) AS n_distinct
FROM {_pip_oracle(wgs, N_MUN_BENCH)} q
GROUP BY cell"""
        knn = (f"SELECT * FROM "
               f"{knn_op.knn_oracle_sql('(SELECT k, fi, la FROM points)', 'k', 3)} q")
        return [
            Action("aft_pip_tiles", self._tiles,
                   [("int", "cell"), ("int", "n_pts"), ("int", "n_distinct")], tiles),
            Action("knn", self._knn,
                   [("int", "k"), ("int", "station_id"), ("int", "rk"),
                    ("fix", "dist2", 40)], knn),
        ]

    @property
    def prefixes(self) -> list[Prefix]:
        return [
            Prefix(None, lambda s, c: s.table("points").select("k", "x", "y", "h")),
            Prefix("kernels.udf_s", lambda s, c: self._convert(s)),
            Prefix("operators.pip.join_s", lambda s, c: self._pip(s)),
            Prefix("operators.tiles.agg_s", self._tiles),
            Prefix(None, lambda s, c: self._knn_src(s)),
            Prefix("operators.knn.join_s", self._knn),
        ]

    kernels = [("aft.gk_to_wgs84_aft_rows_per_s", aft.gk_to_wgs84_aft,
                "SELECT x, y, h FROM points")]


class GeoPipelines:
    """Both geo chains in one iteration: four actions over pages and
    points, each layer's work attributed per action in the traced run."""
    name = "geo_pipelines"
    parts = (PagesChain(), PointsChains())
    tables = ("documents", "points")

    def generate(self, seed: int, out_dir: str) -> dict:
        return {t: p for part in self.parts for t, p in part.generate(seed, out_dir).items()}

    def register(self, spark, paths: dict) -> None:
        for part in self.parts:
            part.register(spark, paths)

    def rows(self) -> int:
        return sum(part.rows() for part in self.parts)

    @property
    def actions(self) -> list[Action]:
        return [a for part in self.parts for a in part.actions]

    @property
    def prefixes(self) -> list[Prefix]:
        return [p for part in self.parts for p in part.prefixes]

    kernels = PagesChain.kernels + PointsChains.kernels


# ---------------------------------------------------------------------------
# corpus_dedup — exact dedup, MinHash LSH, dup spans, brute-force top-k
# ---------------------------------------------------------------------------

# Near-duplicate share of the repo's sf0.1 documents fixture: 243 of its
# 5,000 documents are another, unduplicated document plus the token
# "dup" (53 % of those have a smaller doc_id).  Its 8 exact copies are
# pairs of near duplicates of the same document, which the same draw
# makes at the same rate; there is no other kind of copy.
NEAR_DUP_SHARE = 243 / 5000
DIM = sim.DIM
N_LABELS = 10


class CorpusDedup:
    """Exact dedup, MinHash LSH pairs, dup n-gram spans and brute-force
    top-k over a generated corpus and its embeddings; no geo layer."""
    name = "corpus_dedup"
    tables = ("documents", "embeddings")

    def generate(self, seed: int, out_dir: str) -> dict:
        rng = np.random.default_rng([seed, 3])
        n = CORPUS_DOCS
        texts = _texts(rng, n).to_pylist()
        dup = np.nonzero(rng.random(n) < NEAR_DUP_SHARE)[0]
        rest = np.setdiff1d(np.arange(n), dup)
        for i, j in zip(dup, rest[rng.integers(0, len(rest), len(dup))]):
            texts[i] = texts[j] + " dup"
        docs = _documents(rng, np.arange(n, dtype=np.int64), pa.array(texts))
        docs = docs.take(pa.array(rng.permutation(n)))

        m = CORPUS_VECS
        centers = rng.normal(size=(N_LABELS, DIM))
        label = rng.integers(0, N_LABELS, m)
        v = centers[label] + 0.8 * rng.normal(size=(m, DIM))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        emb = pa.table({
            "vec_id": pa.array(np.arange(m, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        })
        return {"documents": _write(docs, os.path.join(out_dir, "documents.parquet")),
                "embeddings": _write(emb, os.path.join(out_dir, "embeddings.parquet"))}

    @staticmethod
    def register(spark, paths: dict) -> None:
        spark.read.parquet(paths["documents"]).createOrReplaceTempView("documents")
        spark.read.parquet(paths["embeddings"]).createOrReplaceTempView("embeddings")

    def rows(self) -> int:
        return CORPUS_DOCS + CORPUS_VECS

    @property
    def actions(self) -> list[Action]:
        return [
            Action("exact_dedup",
                   lambda s, c: td.exact_dedup(s.table("documents")),
                   [("int", "keep_doc_id"), ("int", "n_dups")],
                   td.EXACT_DEDUP_SQL),
            Action("minhash_pairs",
                   lambda s, c: td.minhash_pairs(s.table("documents"), cache=c),
                   [("int", "doc_a"), ("int", "doc_b"), ("fix", "est_jaccard", 4)],
                   f"SELECT * FROM {td.MINHASH_PAIRS_SQL} q"),
            Action("dup_ngram_spans",
                   lambda s, c: cu.dup_ngram_spans(s.table("documents"), cache=c),
                   [("int", "doc_id"), ("int", "span_start"), ("int", "span_end"),
                    ("int", "n_hits")],
                   cu.dup_ngram_spans_sql()),
            Action("brute_force_topk",
                   lambda s, c: sim.brute_force_topk(s.table("embeddings"), k=5),
                   [("int", "q_id"), ("int", "vec_id"), ("int", "rk"),
                    ("sum", "cos_sim", 1e-6)],
                   sim.brute_force_topk_sql(k=5)),
        ]

    @property
    def prefixes(self) -> list[Prefix]:
        docs = lambda s, c: s.table("documents")  # noqa: E731
        acts = {a.name: a.build for a in self.actions}
        return [
            Prefix(None, docs),
            Prefix("operators.textdedup.exact_dedup_s", acts["exact_dedup"]),
            Prefix(None, docs),
            Prefix("operators.textdedup.minhash_pairs_s", acts["minhash_pairs"]),
            Prefix(None, docs),
            Prefix("operators.curation.dup_ngram_spans_s", acts["dup_ngram_spans"]),
            Prefix(None, lambda s, c: s.table("embeddings")),
            Prefix("operators.similarity.topk_s", acts["brute_force_topk"]),
        ]

    kernels: list = []


WORKLOADS = {w.name: w for w in (GeoPipelines(), CorpusDedup())}
