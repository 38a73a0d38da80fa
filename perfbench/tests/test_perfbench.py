"""Tiny-size tests of the benchmark's own parts (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, run, workloads
from perfbench.tracer import Span, self_time, union_length

TINY = gen.VisShape(n_ant=6, n_time=16, n_chan=16, grid_n=64)


def _digest(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("corrupt", [False, True])
def test_vis_store_same_seed_same_bytes(tmp_path, corrupt):
    a = gen.write_vis_store(str(tmp_path / "a"), TINY, 7, corrupt=corrupt)
    b = gen.write_vis_store(str(tmp_path / "b"), TINY, 7, corrupt=corrupt)
    c = gen.write_vis_store(str(tmp_path / "c"), TINY, 8, corrupt=corrupt)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a.sources == b.sources
    if corrupt:
        np.testing.assert_array_equal(a.gains, b.gains)
        np.testing.assert_array_equal(a.rfi_rows, b.rfi_rows)


def test_corpus_store_same_seed_same_bytes(tmp_path):
    shape = gen.CorpusShape(n_docs=60, n_clusters=5, n_vec=60)
    la = gen.write_corpus_store(str(tmp_path / "a"), shape, 3)
    lb = gen.write_corpus_store(str(tmp_path / "b"), shape, 3)
    gen.write_corpus_store(str(tmp_path / "c"), shape, 4)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    for x, y in zip(la, lb):
        np.testing.assert_array_equal(x, y)
    assert (la[0] >= 0).sum() == shape.n_clusters * shape.cluster_size


def test_vis_frame_shape_and_planted_faults():
    cols, truth = gen.vis_frame(TINY, 1, corrupt=True)
    assert len(cols["row_id"]) == TINY.n_vis
    null = cols["data_re"][1]
    assert 0 < null.mean() < 0.1
    assert not null[truth.rfi_rows].any()
    assert truth.gains.shape == (2, TINY.n_pol, TINY.n_ant)


def _imaging_out(truth, scale=1.0, stray=0.0):
    n_planes = truth.shape.n_chan * truth.shape.n_pol
    c = truth.shape.grid_n // 2
    rows = [(c + lp, c + mp, f * n_planes * scale) for lp, mp, f in truth.sources]
    if stray:
        rows.append((1, 1, stray * n_planes))
    comps = pd.DataFrame(rows, columns=["l_idx", "m_idx", "flux"])
    return {"components": comps, "stats": {"data2": 10.0, "resid2": 2.0}}


def test_imaging_gate_accepts_and_rejects():
    _, truth = gen.vis_frame(TINY, 2, corrupt=False)
    t = {"vis": truth}
    assert workloads.gate_imaging(_imaging_out(truth), t) == []
    assert workloads.gate_imaging(_imaging_out(truth, scale=0.5), t)
    faint = min(f for _, _, f in truth.sources)
    assert workloads.gate_imaging(_imaging_out(truth, stray=0.5 * faint), t)
    bad = _imaging_out(truth)
    bad["stats"]["resid2"] = 11.0
    assert workloads.gate_imaging(bad, t)


def _prep_out(truth):
    g = truth.gains
    rows = []
    for i in range(g.shape[0]):
        for p in range(g.shape[1]):
            rel = g[i, p] * np.conj(g[i, p, 0]) / abs(g[i, p, 0])
            for a in range(g.shape[2]):
                rows.append((i, p, a, rel[a].real, rel[a].imag))
    gains = pd.DataFrame(rows, columns=["interval", "pol", "ant", "gain_re", "gain_im"])
    s = truth.shape
    n_avg = (s.n_time // workloads.BIN_TIME) * s.n_baseline * (s.n_chan // workloads.BIN_CHAN) * s.n_pol
    return {"gains": gains, "flagged_ids": truth.rfi_rows.copy(), "avg_rows": n_avg}


def test_vis_prep_gate_accepts_and_rejects():
    _, truth = gen.vis_frame(TINY, 3, corrupt=True)
    out = _prep_out(truth)
    assert workloads.gate_vis_prep(out, truth) == []
    rot = dict(out, gains=out["gains"].assign(
        gain_re=-out["gains"]["gain_im"], gain_im=out["gains"]["gain_re"]))
    assert workloads.gate_vis_prep(rot, truth)  # every phase off by 90 degrees
    assert workloads.gate_vis_prep(dict(out, flagged_ids=truth.rfi_rows[::2]), truth)
    assert workloads.gate_vis_prep(dict(out, avg_rows=out["avg_rows"] - 1), truth)


def test_corpus_gate_accepts_and_rejects():
    doc_labels = np.array([0, 0, 0, -1, 1, 1, -1])
    vec_labels = np.array([-1, 2, 2, -1])
    canonical = pd.DataFrame({"doc_id": range(7), "canonical_id": [0, 0, 0, 3, 4, 4, 6]})
    pairs = pd.DataFrame({"id_a": [1], "id_b": [2]})
    good = {"canonical": canonical, "pairs": pairs}
    assert workloads.gate_corpus(good, (doc_labels, vec_labels)) == []
    merged = canonical.assign(canonical_id=[0, 0, 0, 0, 4, 4, 6])  # a false merge
    assert workloads.gate_corpus(dict(good, canonical=merged), (doc_labels, vec_labels))
    assert workloads.gate_corpus(dict(good, pairs=pairs.iloc[:0]), (doc_labels, vec_labels))


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0
    spans = [Span(0, "run", None, "r", 0.0, 10.0),
             Span(1, "a", 0, "r", 1.0, 4.0),
             Span(2, "b", 0, "r", 3.0, 6.0),  # overlaps a: covered once
             Span(3, "a.build", 1, "r", 1.0, 2.0),
             Span(4, "c", 0, "r", 9.0, 12.0)]  # clipped to the parent's end
    assert self_time(spans[0], spans) == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_time(spans[1], spans) == pytest.approx(2.0)
    assert self_time(spans[3], spans) == pytest.approx(1.0)


def test_benchmark_json_names_every_metric():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


