"""Seeded input generators: an MS-shaped visibility store, a text corpus
and an embedding set, each written as Parquet with pyarrow (no Spark), so
the package under test only ever reads the generated files.

Shapes are fixed per workload; the seed changes only values (sky,
noise, gains, RFI placement, corpus text, vectors), so every seed costs
the same work. The same seed always writes byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

C_M_S = 299792458.0
T0_US = 1_600_000_000 * 1_000_000  # first integration, UTC microseconds
N_FILES = 8  # time-chunked part files: the store's chunking (scan parallelism)


@dataclass(frozen=True)
class VisShape:
    n_ant: int = 27
    n_time: int = 16
    n_chan: int = 16
    n_pol: int = 2
    interval_s: float = 60.0
    ha_span_h: float = 8.0  # hour-angle range covered by the n_time integrations
    freq0_hz: float = 1.40e9
    chan_width_hz: float = 2.0e6
    dec_rad: float = np.deg2rad(40.0)
    lat_rad: float = np.deg2rad(34.08)
    arm_m: float = 600.0  # Y-array arm length (VLA D-configuration scale)
    grid_n: int = 256  # padded uv grid the imaging workload uses
    support: int = 7
    noise_sigma: float = 0.1  # per re/im component, Jy
    n_sources: int = 3
    # vis_prep only
    sol_len: int = 8  # integrations per gain solution interval
    hole_frac: float = 0.03  # (time, baseline) pairs with NULL data
    rfi_amp: float = 200.0

    @property
    def n_baseline(self) -> int:
        return self.n_ant * (self.n_ant - 1) // 2

    @property
    def n_vis(self) -> int:
        return self.n_time * self.n_baseline * self.n_chan * self.n_pol


@dataclass
class VisTruth:
    """What the generator planted, for the correctness gates."""
    shape: VisShape
    cell_rad: float
    sources: list = field(default_factory=list)  # (l_pix, m_pix, flux)
    gains: np.ndarray | None = None  # (n_interval, n_pol, n_ant) complex
    rfi_rows: np.ndarray | None = None  # row indices carrying injected RFI


def antenna_enu(shape: VisShape) -> np.ndarray:
    """Y-shaped array, 9 antennas per arm on a power-law spacing."""
    per_arm = shape.n_ant // 3
    out = []
    for az in np.deg2rad([5.0, 125.0, 245.0]):
        for k in range(1, per_arm + 1):
            r = shape.arm_m * (k / per_arm) ** 1.716
            out.append((r * np.sin(az), r * np.cos(az)))
    return np.asarray(out)  # (east, north) metres


def baselines(n_ant: int) -> tuple[np.ndarray, np.ndarray]:
    a1, a2 = np.triu_indices(n_ant, k=1)
    return a1.astype(np.int32), a2.astype(np.int32)


def uvw(shape: VisShape) -> np.ndarray:
    """Earth-rotation (n_time, n_baseline, 3) u/v/w in metres."""
    enu = antenna_enu(shape)
    a1, a2 = baselines(shape.n_ant)
    east = enu[a2, 0] - enu[a1, 0]
    north = enu[a2, 1] - enu[a1, 1]
    # local horizon plane -> equatorial XYZ (no height)
    x = -np.sin(shape.lat_rad) * north
    y = east
    z = np.cos(shape.lat_rad) * north
    ha = np.deg2rad(15.0) * np.linspace(-shape.ha_span_h / 2, shape.ha_span_h / 2,
                                        shape.n_time)[:, None]
    sd, cd = np.sin(shape.dec_rad), np.cos(shape.dec_rad)
    u = np.sin(ha) * x + np.cos(ha) * y
    v = -sd * np.cos(ha) * x + sd * np.sin(ha) * y + cd * z
    w = cd * np.cos(ha) * x - cd * np.sin(ha) * y + sd * z
    return np.stack([u, v, w], axis=-1)


def freqs(shape: VisShape) -> np.ndarray:
    return shape.freq0_hz + shape.chan_width_hz * np.arange(shape.n_chan)


def cell_size(shape: VisShape) -> float:
    """Cell (radians) that keeps every sample's kernel inside the grid."""
    uv = uvw(shape)
    umax = np.abs(uv[..., :2]).max() * freqs(shape).max() / C_M_S
    return 0.9 * (shape.grid_n // 2 - shape.support) / (shape.grid_n * umax)


def _sky(shape: VisShape, rng: np.random.Generator):
    """Point sources on pixel centres, well inside the image."""
    lim = shape.grid_n // 6
    pix = set()
    sources = []
    fluxes = np.sort(rng.uniform(0.4, 1.2, shape.n_sources))[::-1]
    while len(sources) < shape.n_sources:
        lp, mp = (int(x) for x in rng.integers(-lim, lim + 1, 2))
        if any(abs(lp - a) < 8 and abs(mp - b) < 8 for a, b in pix):
            continue
        pix.add((lp, mp))
        sources.append((lp, mp, float(fluxes[len(sources)])))
    return sources


def _model_vis(shape: VisShape, sources, cell: float) -> np.ndarray:
    """(n_time, n_baseline, n_chan) complex model visibilities.

    The package's imager maps a sample at u (wavelengths) to grid offset
    ``-u·cell·n``, so a source planted at pixel offset (dl, dm) from the
    image centre sits at direction cosines (-dl·cell, -dm·cell)."""
    uv = uvw(shape)[..., :2]
    lam = C_M_S / freqs(shape)
    out = np.zeros((shape.n_time, shape.n_baseline, shape.n_chan), np.complex128)
    for lp, mp, flux in sources:
        l, m = -lp * cell, -mp * cell
        phase = (uv[..., 0:1] * l + uv[..., 1:2] * m) / lam[None, None, :]
        out += flux * np.exp(-2j * np.pi * phase)
    return out


def vis_frame(shape: VisShape, seed: int, *, corrupt: bool):
    """Long-form (time, baseline, chan, pol) columns as numpy arrays.

    ``corrupt=False``: sky + noise (the imaging input).
    ``corrupt=True``: per-antenna gains, RFI bursts and NULL holes on top
    (the calibration/flagging input)."""
    rng = np.random.default_rng(seed)
    cell = cell_size(shape)
    sources = _sky(shape, rng)
    truth = VisTruth(shape, cell, sources)
    nt, nb, nc, npol = shape.n_time, shape.n_baseline, shape.n_chan, shape.n_pol
    model = _model_vis(shape, sources, cell)  # (t, b, c)
    model = np.broadcast_to(model[..., None], (nt, nb, nc, npol))
    a1, a2 = baselines(shape.n_ant)
    data = model.copy()
    interval = np.arange(nt) // shape.sol_len
    if corrupt:
        n_int = int(interval.max()) + 1
        amp = rng.uniform(0.9, 1.1, (n_int, npol, shape.n_ant))
        ph = rng.uniform(-np.pi / 3, np.pi / 3, (n_int, npol, shape.n_ant))
        g = amp * np.exp(1j * ph)
        truth.gains = g
        gt = g[interval]  # (t, pol, ant)
        gi = np.transpose(gt[:, :, a1], (0, 2, 1))[:, :, None, :]  # (t, b, 1, pol)
        gj = np.transpose(gt[:, :, a2], (0, 2, 1))[:, :, None, :]
        data = data * gi * np.conj(gj)
    noise = rng.normal(0.0, shape.noise_sigma, (2, nt, nb, nc, npol))
    data = data + noise[0] + 1j * noise[1]

    rfi = np.zeros((nt, nb, nc, npol), bool)
    hole = np.zeros((nt, nb), bool)
    if corrupt:
        # one narrow-band channel over a run of integrations (caught along
        # frequency) and broadband spikes one integration long on every
        # other channel (caught along time), 16 integrations apart so their
        # 15-sample time windows do not overlap; the two kinds never share
        # a sample
        c = int(rng.integers(5, 11))
        t1 = int(rng.integers(7, 9))
        spike = np.zeros(nc, bool)
        spike[np.arange(nc) != c] = True
        spikes = list(range(t1, nt, 16))
        for t in spikes:
            rfi[t, :, spike] = True
        quiet = [t for t in range(nt) if t not in spikes]
        start = int(rng.integers(0, len(quiet) - 6))
        rfi[quiet[start:start + 6], :, c, :] = True
        data = data + rfi * shape.rfi_amp * (1 + 1j)
        hole = rng.random((nt, nb)) < shape.hole_frac

    ti, bi, ci, pi = np.meshgrid(np.arange(nt), np.arange(nb), np.arange(nc),
                                 np.arange(npol), indexing="ij")
    ti, bi, ci, pi = (x.ravel() for x in (ti, bi, ci, pi))
    uv = uvw(shape)
    null = hole[ti, bi]
    truth.rfi_rows = np.nonzero(rfi.ravel() & ~null)[0]
    cols = {
        "row_id": np.arange(ti.size, dtype=np.int64),
        "time": T0_US + (ti * shape.interval_s * 1e6).astype(np.int64),
        "interval": interval[ti].astype(np.int64),
        "scan_number": (ti // shape.sol_len + 1).astype(np.int32),
        "baseline": bi.astype(np.int32),
        "ant1": a1[bi],
        "ant2": a2[bi],
        "chan": ci.astype(np.int32),
        "pol": pi.astype(np.int32),
        "freq": freqs(shape)[ci],
        "u": uv[ti, bi, 0], "v": uv[ti, bi, 1], "w": uv[ti, bi, 2],
        "data_re": (data.real.ravel(), null),
        "data_im": (data.imag.ravel(), null),
        "model_re": model.real.ravel().copy(),
        "model_im": model.imag.ravel().copy(),
        "weight": np.full(ti.size, 1.0 / shape.noise_sigma ** 2),
        "flag": np.zeros(ti.size, bool),
    }
    return cols, truth


def _table(cols: dict) -> pa.Table:
    arrays, names = [], []
    for name, val in cols.items():
        if isinstance(val, tuple):
            arrays.append(pa.array(val[0], mask=val[1]))
        elif name == "time":
            arrays.append(pa.array(val, type=pa.timestamp("us", tz="UTC")))
        else:
            arrays.append(pa.array(val))
        names.append(name)
    return pa.Table.from_arrays(arrays, names=names)


def _write_chunked(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for k in range(n_files):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(path, f"part-{k:05d}.parquet"), compression="zstd")


def write_vis_store(path: str, shape: VisShape, seed: int, *, corrupt: bool) -> VisTruth:
    cols, truth = vis_frame(shape, seed, corrupt=corrupt)
    _write_chunked(_table(cols), path, N_FILES)
    return truth


# --- corpus and embeddings -------------------------------------------------

@dataclass(frozen=True)
class CorpusShape:
    n_docs: int = 3000
    words: int = 80
    vocab: int = 5000
    n_clusters: int = 150  # planted near-duplicate clusters
    cluster_size: int = 4  # members per cluster (base + near copies)
    edits: int = 2  # word substitutions per near copy
    n_vec: int = 3000
    dim: int = 64
    vec_noise: float = 0.02  # per-component noise of a near-copy vector


def _words(rng: np.random.Generator, shape: CorpusShape, n: int) -> np.ndarray:
    """Zipf-distributed word ids over a fixed synthetic vocabulary."""
    return rng.zipf(1.15, n) % shape.vocab


def corpus_frame(shape: CorpusShape, seed: int):
    """Docs with planted near-duplicate clusters → (columns, cluster label
    per doc; -1 for singletons). Cluster members are placed at random ids."""
    rng = np.random.default_rng(seed)
    texts = []
    labels = np.full(shape.n_docs, -1, np.int64)
    order = rng.permutation(shape.n_docs)
    k = 0
    for c in range(shape.n_clusters):
        base = _words(rng, shape, shape.words)
        for j in range(shape.cluster_size):
            doc = base.copy()
            if j:
                pos = rng.choice(shape.words, shape.edits, replace=False)
                doc[pos] = shape.vocab + rng.integers(0, shape.vocab, shape.edits)
            texts.append(doc)
            labels[order[k]] = c
            k += 1
    while k < shape.n_docs:
        texts.append(_words(rng, shape, shape.words))
        k += 1
    by_id = [None] * shape.n_docs
    for i, doc in enumerate(texts):
        by_id[order[i]] = " ".join(f"w{t}" for t in doc)
    cols = {"doc_id": np.arange(shape.n_docs, dtype=np.int64), "text": by_id}
    return cols, labels


def embedding_frame(shape: CorpusShape, seed: int):
    """Unit-scale vectors with planted near-copy clusters → (columns, labels)."""
    rng = np.random.default_rng(seed + 1)
    vecs = rng.normal(size=(shape.n_vec, shape.dim))
    labels = np.full(shape.n_vec, -1, np.int64)
    order = rng.permutation(shape.n_vec)
    k = 0
    for c in range(shape.n_clusters):
        base = rng.normal(size=shape.dim)
        base /= np.linalg.norm(base)
        for _ in range(shape.cluster_size):
            vecs[order[k]] = base + rng.normal(0.0, shape.vec_noise, shape.dim)
            labels[order[k]] = c
            k += 1
    cols = {"vec_id": np.arange(shape.n_vec, dtype=np.int64), "embedding": vecs}
    return cols, labels


def write_corpus_store(path: str, shape: CorpusShape, seed: int):
    """Writes ``docs/`` and ``embeddings/``; returns the two label arrays."""
    docs, doc_labels = corpus_frame(shape, seed)
    _write_chunked(pa.table({"doc_id": docs["doc_id"], "text": docs["text"]}),
                   os.path.join(path, "docs"), N_FILES)
    emb, vec_labels = embedding_frame(shape, seed)
    vec_type = pa.list_(pa.float64())
    table = pa.table({"vec_id": emb["vec_id"],
                      "embedding": pa.array(list(emb["embedding"]), type=vec_type)})
    _write_chunked(table, os.path.join(path, "embeddings"), N_FILES)
    return doc_labels, vec_labels
