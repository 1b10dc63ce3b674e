"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.Generator`` streams built from
the run's seed and writes plain files (CSV / parquet). The same seed
always gives byte-identical files: parquet is written without the
pandas metadata blob, CSV cells are formatted explicitly.

Sizes are fixed per workload; the seed only changes the values, so two
seeds give inputs of the same shape and the same amount of work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EXPERT_COLS = [
    "Observation period", "TOA", "Clear sky GHI", "Clear sky BHI",
    "Clear sky DHI", "Clear sky BNI", "GHI", "BHI", "DHI", "BNI",
    "Reliability", "Cloud coverage",
]
GROUND_FLAGS = [
    "flag_ghi", "flag_dhi", "flag_dni", "flag_ghi_rare",
    "flag_dhi_rare", "flag_dni_rare", "flag_comp1", "flag_comp2",
]
# 35 station names shaped like the reference dimension (FIXTURES.md F1);
# "Sleman" carries the bad longitude and is the compile exclusion target.
STATIONS = [
    "Padang_Pariaman", "Makassar", "Sleman", "Aceh_Besar", "Ambon",
    "Balikpapan", "Banjarbaru", "Bengkulu", "Bitung", "Bogor", "Denpasar",
    "Gowa", "Jambi", "Jayapura", "Kendari", "Kupang", "Lampung", "Manado",
    "Mataram", "Medan", "Merauke", "Padang", "Palangkaraya", "Palembang",
    "Palu", "Pekanbaru", "Pontianak", "Samarinda", "Semarang", "Serang",
    "Sorong", "Surabaya", "Tangerang", "Ternate", "Yogyakarta",
]
WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, input name)."""
    key = [int(b) for b in stream.encode()]
    return np.random.default_rng([int(seed), *key])


def write_parquet(df: pd.DataFrame | pa.Table, path: str) -> None:
    tbl = df if isinstance(df, pa.Table) else pa.Table.from_pandas(
        df, preserve_index=False
    )
    # Drop the pandas metadata blob: it carries no data and keeps the
    # file bytes independent of the pandas version.
    tbl = tbl.replace_schema_metadata(None)
    pq.write_table(tbl, path, compression="snappy")


# ----------------------------------------------------------------------
# solar_etl — FIXTURES.md F1 (locations), F2 (1-min expert CSV), F4 (QC)
# ----------------------------------------------------------------------
GAP_MINUTES = 40       # one missing-minute gap per file
EMPTY_CELL_EVERY = 37  # every 37th cell (diagonal) is empty


@dataclass(frozen=True)
class SolarShape:
    stations: int
    days: int

    @property
    def rows_per_file(self) -> int:
        return self.days * 1440 - GAP_MINUTES


def solar_inputs(seed: int, out: str, shape: SolarShape) -> dict:
    """Write the locations table, one raw 1-min expert CSV per
    (station, sky type) and one ground QC file per station; returns the
    paths and the stated input properties."""
    rng = rng_for(seed, "solar")
    os.makedirs(out, exist_ok=True)
    raw_dir = os.path.join(out, "raw")
    qc_dir = os.path.join(out, "qc")
    os.makedirs(raw_dir, exist_ok=True)
    os.makedirs(qc_dir, exist_ok=True)
    names = ["Sleman"] + [s for s in STATIONS if s != "Sleman"][: shape.stations - 1]
    lines = ["no,station,latitude,longitude,elevation,timezone"]
    for i, st in enumerate(names, start=1):
        lat = round(float(rng.uniform(-10.0, 5.0)), 5)
        lon = -110.35362 if st == "Sleman" else round(float(rng.uniform(95.0, 141.0)), 5)
        elev = int(rng.integers(0, 1500))
        tz = f"UTC+{int(rng.integers(7, 10))}"
        lines.append(f"{i},{st},{lat},{lon},{elev},{tz}")
    loc_path = os.path.join(out, "asrs_location.csv")
    with open(loc_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")

    t0 = pd.Timestamp("2024-01-01")
    minutes = shape.days * 1440
    starts = t0 + pd.to_timedelta(np.arange(minutes), unit="min")
    stamp = starts.strftime("%Y-%m-%dT%H:%M:%S")
    ends = (starts + pd.Timedelta(minutes=1)).strftime("%Y-%m-%dT%H:%M:%S")
    periods = np.char.add(
        np.char.add(np.asarray(stamp, dtype=str), ".0/"),
        np.char.add(np.asarray(ends, dtype=str), ".0"),
    )
    ncols = len(EXPERT_COLS) - 1
    for st in names:
        for sky in ("clear", "observed_cloud"):
            gap_at = int(rng.integers(60, minutes - GAP_MINUTES - 60))
            keep = np.ones(minutes, dtype=bool)
            keep[gap_at : gap_at + GAP_MINUTES] = False
            vals = rng.uniform(0.0, 1.2, size=(minutes, ncols))
            cells = np.char.mod("%.4f", vals).astype(object)
            m = np.arange(minutes)[:, None] + np.arange(ncols)[None, :]
            cells[m % EMPTY_CELL_EVERY == 0] = ""
            body = [periods] + [cells[:, j] for j in range(ncols)]
            rows = [";".join(r) for r in zip(*(c[keep] for c in body))]
            head = [
                "# Coordinated Universal Time (UTC)",
                f"# Station: {st}; sky type: {sky}",
                "# " + ";".join(EXPERT_COLS),
            ]
            with open(os.path.join(raw_dir, f"raw_1min_{st}_{sky}.csv"), "w") as fh:
                fh.write("\n".join(head + rows) + "\n")

    # Ground QC on the 10-minute grid, overlapping the CAMS series; ~10 %
    # of rows flagged, some zero DHI (null-safe ratio), one file with a
    # subset of the flag columns.
    grid = pd.date_range(t0, periods=shape.days * 144, freq="10min")
    for i, st in enumerate(names):
        n = len(grid)
        df = pd.DataFrame({"Datetime (UTC)": grid.strftime("%Y-%m-%d %H:%M:%S")})
        df["GHI"] = np.round(rng.uniform(0, 70, n), 3)
        dhi = np.round(rng.uniform(0, 40, n), 3)
        dhi[rng.random(n) < 0.05] = 0.0
        df["DHI"] = dhi
        df["DNI"] = np.round(rng.uniform(0, 70, n), 3)
        flags = GROUND_FLAGS if i % 2 == 0 else GROUND_FLAGS[:5]
        for f in flags:
            df[f] = (rng.random(n) < 0.0125).astype(int)
        p = os.path.join(qc_dir, f"QC_{st}_2024_flagged.csv")
        df.to_csv(p, index=False)
    return {
        "locations": loc_path,
        "raw_dir": raw_dir,
        "qc_dir": qc_dir,
        "stations": names,
        "files": len(names) * 2,
        "days_per_file": shape.days,
        "rows": len(names) * 2 * shape.rows_per_file,
    }


_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def embedding_matrix(rng, n: int, dim: int = 64, labels: int = 10):
    """Unit vectors drawn around ``labels`` random centres."""
    centres = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, n)
    mat = centres[lab] + rng.normal(scale=1.5, size=(n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return mat.astype(np.float32), lab.astype(np.int32)


# ----------------------------------------------------------------------
# curation — documents with stated exact/near-duplicate shares, vectors
# ----------------------------------------------------------------------
@dataclass(frozen=True)
class CurationShape:
    base_docs: int
    exact_dup_share: float
    near_dup_share: float
    vectors: int
    requests: int        # distinct ANN request batches generated
    batch: int           # unseen query vectors per request
    stream_files: int    # document shards replayed by the streaming dedup
    dim: int = 64

    @property
    def docs(self) -> int:
        return self.base_docs + self.n_exact + self.n_near

    @property
    def n_exact(self) -> int:
        return int(self.base_docs * self.exact_dup_share)

    @property
    def n_near(self) -> int:
        return int(self.base_docs * self.near_dup_share)


def curation_inputs(seed: int, out: str, shape: CurationShape) -> dict:
    """Documents: ``base_docs`` originals, then exact copies and
    near-copies (3 of ≥40 words replaced) of randomly chosen originals.
    Vectors: a corpus plus ``requests`` batches of unseen query vectors
    drawn from the same distribution."""
    rng = rng_for(seed, "curation")
    os.makedirs(out, exist_ok=True)
    lens = rng.integers(40, 97, shape.base_docs)
    vocab = np.array(WORDS + [f"w{i}" for i in range(200)])
    base = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    src_exact = rng.integers(0, shape.base_docs, shape.n_exact)
    src_near = rng.integers(0, shape.base_docs, shape.n_near)
    near = []
    for s in src_near:
        words = base[s].split(" ")
        for pos in rng.choice(len(words), 3, replace=False):
            words[pos] = f"edit{int(rng.integers(0, 10_000))}"
        near.append(" ".join(words))
    texts = base + [base[s] for s in src_exact] + near
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, len(texts), p=_LANG_P)],
            "source": [f"src{s}" for s in rng.integers(0, 20, len(texts))],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    docs_path = os.path.join(out, "documents.parquet")
    write_parquet(docs, docs_path)
    # The same documents as consecutive shards for the streaming dedup;
    # the file source takes files in modification-time order: pin it.
    stream_dir = os.path.join(out, "docs_stream")
    os.makedirs(stream_dir, exist_ok=True)
    bounds = np.linspace(0, len(docs), shape.stream_files + 1).astype(int)
    for f in range(shape.stream_files):
        p = os.path.join(stream_dir, f"part-{f:03d}.parquet")
        write_parquet(docs.iloc[bounds[f] : bounds[f + 1]], p)
        os.utime(p, ns=(1_700_000_000_000_000_000 + f * 10**9,) * 2)
    n_q = shape.requests * shape.batch
    mat, lab = embedding_matrix(rng, shape.vectors + n_q, dim=shape.dim)
    corpus = mat[: shape.vectors]
    queries = mat[shape.vectors :].reshape(shape.requests, shape.batch, shape.dim)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(shape.vectors, dtype=np.int64)),
            "embedding": pa.array(list(corpus), type=pa.list_(pa.float32())),
            "label": pa.array(lab[: shape.vectors]),
        }
    )
    emb_path = os.path.join(out, "embeddings.parquet")
    write_parquet(emb, emb_path)
    return {
        "documents": docs_path,
        "docs_stream": stream_dir,
        "embeddings": emb_path,
        "docs": docs,
        "corpus": corpus,
        "queries": queries,
        "rows": len(texts) + shape.vectors,
    }
