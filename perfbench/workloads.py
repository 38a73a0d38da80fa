"""The workloads, their inputs and their correctness gates.

Each workload is one batch job through the package's public functions.
Every layer's output is materialized at the layer boundary (persisted and
counted, collected, or written), as a pipeline that hands results from
one step to the next does; the persisted frames are released when the
run ends. ``run_*`` returns the small results its gate needs.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import gen

# gates: stated tolerances
FLUX_TOL = 0.20  # |recovered - injected| / injected, per source (±1 px box, per plane)
POS_FLUX_SHARE = 0.90  # share of CLEAN flux that must lie within 1 px of a source
SPURIOUS_MAX = 0.10  # any other component: |flux| below this share of the faintest source
PHASE_TOL_DEG = 2.0  # solved vs injected gain phase (refant-relative)
RFI_RECALL = 0.98
DEDUP_RECALL = 0.95
DEDUP_PRECISION = 0.95
SIM_RECALL = 0.90
SIM_PRECISION = 0.95

IMAGING_SHAPE = gen.VisShape(n_time=8, n_chan=8, grid_n=128)
PREP_SHAPE = gen.VisShape(n_ant=9, n_time=16)
CORPUS_SHAPE = gen.CorpusShape(n_docs=1000, n_vec=1000, n_clusters=50)
BIN_TIME, BIN_CHAN = 4, 4


@dataclass
class Ctx:
    """One invocation's session, generated store and tracer."""
    spark: object
    store: str
    work: str
    truth: object
    tracer: object = None
    held: list = field(default_factory=list)

    def path(self, name: str) -> str:
        return os.path.join(self.store, name)

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        df.count()
        self.held.append(df)
        return df

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()


def _layer(ctx: Ctx, name: str, build, materialize):
    with ctx.tracer.span(name) as phase:
        out = build()
        phase.built()
        return materialize(out)


# --- imaging_cycle ----------------------------------------------------------

def imaging_grid(truth):
    from cngi_prototype_spark.imaging.grid import GridParms

    n = truth.shape.grid_n
    return GridParms(n_u=n, n_v=n, cell_u=truth.cell_rad, cell_v=truth.cell_rad,
                     support=truth.shape.support)


def run_imaging(ctx: Ctx) -> dict:
    from cngi_prototype_spark.imaging.deconvolve import deconvolve_point_clean
    from cngi_prototype_spark.imaging.degrid import predict_modelvis_image
    from cngi_prototype_spark.imaging.image import make_image_and_psf
    from cngi_prototype_spark.imaging.weights import make_imaging_weight
    from cngi_prototype_spark.sources.vis_io import read_vis

    gp = imaging_grid(ctx.truth["vis"])
    cols = ["row_id", "u", "v", "freq", "chan", "pol", "data_re", "data_im", "weight"]
    vis = _layer(ctx, "sources.read_vis",
                 lambda: read_vis(ctx.spark, ctx.path("vis"), columns=cols), ctx.persist)
    vw = _layer(ctx, "imaging.weights", lambda: make_imaging_weight(vis, gp), ctx.persist)
    cube = _layer(ctx, "imaging.image.dirty_psf",
                  lambda: make_image_and_psf(vw, gp), ctx.persist)
    clean = _layer(ctx, "imaging.deconvolve",
                   lambda: deconvolve_point_clean(cube, cube), ctx.persist)
    pred = _layer(ctx, "imaging.degrid",
                  lambda: predict_modelvis_image(clean, vw, gp), ctx.persist)
    res_re = F.col("data_re") - F.col("model_re")
    res_im = F.col("data_im") - F.col("model_im")
    st = pred.agg(
        F.sum(F.col("data_re") ** 2 + F.col("data_im") ** 2).alias("data2"),
        F.sum(res_re ** 2 + res_im ** 2).alias("resid2"),
        F.count(F.when(F.col("model_re").isNull(), 1)).alias("null"),
        F.count(F.lit(1)).alias("n")).collect()[0].asDict()
    return {"stats": st, "clean": clean}


def collect_imaging(out: dict) -> dict:
    """Gate inputs that need Spark, gathered after the timed section."""
    comps = (out["clean"].filter(F.col("model") != 0)
             .groupBy("l_idx", "m_idx")
             .agg(F.sum("model").alias("flux"), F.count(F.lit(1)).alias("planes"))
             .toPandas())
    return {"stats": out["stats"], "components": comps}


def count_imaging(ctx: Ctx, got: dict) -> dict:
    st = got["stats"]
    return {"imaging.deconvolve.components": int(got["components"]["planes"].sum()),
            "imaging.degrid.null_frac": st["null"] / st["n"]}


def gate_imaging(out: dict, truth) -> list[str]:
    """CLEAN components within 1 pixel of the injected sources with flux
    within ``FLUX_TOL``; no strong component elsewhere (the PSWF-corrected
    image edges keep faint ones); residual RMS below the data RMS."""
    truth = truth["vis"]
    errs = []
    shape = truth.shape
    n_planes = shape.n_chan * shape.n_pol
    comps = out["components"]
    c = shape.grid_n // 2
    near = np.zeros(len(comps), bool)
    for lp, mp, flux in truth.sources:
        box = ((comps["l_idx"] - (c + lp)).abs() <= 1) & ((comps["m_idx"] - (c + mp)).abs() <= 1)
        near |= box.to_numpy()
        got = comps.loc[box, "flux"].sum() / n_planes
        if not abs(got - flux) <= FLUX_TOL * flux:
            errs.append(f"source at ({lp},{mp}): flux {got:.3f} vs injected {flux:.3f}")
    total = comps["flux"].abs().sum()
    share = comps.loc[near, "flux"].abs().sum() / total if total > 0 else 0.0
    if not share >= POS_FLUX_SHARE:
        errs.append(f"only {share:.3f} of CLEAN flux lies within 1 px of a source")
    faint = min(f for _, _, f in truth.sources)
    stray = comps.loc[~near, "flux"].abs().max() / n_planes if (~near).any() else 0.0
    if not stray < SPURIOUS_MAX * faint:
        errs.append(f"component of {stray:.3f} Jy away from every source")
    st = out["stats"]
    if not st["resid2"] < st["data2"]:
        errs.append(f"residual RMS {st['resid2']:.4g} not below data RMS {st['data2']:.4g}")
    return errs


# --- vis_prep ---------------------------------------------------------------

def _schemas():
    from cngi_prototype_spark.schema import VisSchema

    vs = VisSchema(weight="weight")
    cvs = VisSchema(data_cols=(("corrected_re", "corrected_im"),),
                    weight="corrected_weight")
    return vs, cvs


def _flag(vis: DataFrame, vs) -> DataFrame:
    from cngi_prototype_spark.operators.flags import apply_flags, auto_rflag, auto_tfcrop

    # A sample sits inside its own window, so its score can never pass
    # (n-1)/sqrt(n): 2.67 for rflag's default 9-sample window and 3.02 for
    # tfcrop's 11, below the default thresholds 5 and 4, which therefore
    # flag nothing. These settings can flag, also when NULL holes shrink a
    # 15-sample time window to 9.
    out = auto_rflag(vis, time_window=15, nsigma=2.5)
    out = auto_tfcrop(out, nsigma=2.5)
    return apply_flags(out, vs)


def run_vis_prep(ctx: Ctx) -> dict:
    from cngi_prototype_spark.calibration.self_cal import self_cal
    from cngi_prototype_spark.operators.averaging import chan_average, time_average
    from cngi_prototype_spark.operators.statistics import flag_summary
    from cngi_prototype_spark.sources.vis_io import read_vis, write_vis

    vs, cvs = _schemas()
    vis = _layer(ctx, "sources.read_vis", lambda: read_vis(ctx.spark, ctx.path("vis")),
                 ctx.persist)
    flagged = _layer(ctx, "operators.flags", lambda: _flag(vis, vs), ctx.persist)
    gains, corrected = _layer(
        ctx, "calibration", lambda: self_cal(flagged),
        lambda gc: (gc[0].toPandas(), ctx.persist(gc[1])))
    avg = _layer(ctx, "operators.averaging",
                 lambda: chan_average(time_average(corrected, bin=BIN_TIME, vs=cvs),
                                      width=BIN_CHAN, vs=cvs),
                 ctx.persist)
    summary = _layer(ctx, "operators.statistics",
                     lambda: flag_summary(flagged, ["pol", "scan_number", "ant1"], vs=vs),
                     lambda df: df.toPandas())
    _layer(ctx, "sources.write_vis",
           lambda: write_vis(avg, os.path.join(ctx.work, "prep_out")), lambda r: r)
    return {"gains": gains, "summary": summary, "avg": avg, "flagged": flagged}


def collect_vis_prep(out: dict) -> dict:
    """Gate inputs that need Spark, gathered after the timed section."""
    ids = out["flagged"].filter(F.col("flag")).select("row_id").toPandas()
    return {"gains": out["gains"], "summary": out["summary"],
            "flagged_ids": ids["row_id"].to_numpy(), "avg_rows": out["avg"].count()}


def gate_vis_prep(out: dict, truth) -> list[str]:
    """Gain phases within ``PHASE_TOL_DEG``, RFI recall at least
    ``RFI_RECALL``, and the exact averaged row count."""
    errs = []
    g = out["gains"]
    true = truth.gains  # (interval, pol, ant)
    t = true[g["interval"].to_numpy(), g["pol"].to_numpy()]
    ant = g["ant"].to_numpy()
    ref = t[:, 0]
    want = np.angle(t[np.arange(len(ant)), ant] * np.conj(ref))
    got = np.angle(g["gain_re"].to_numpy() + 1j * g["gain_im"].to_numpy())
    err = np.degrees(np.abs(np.angle(np.exp(1j * (got - want)))))
    if not (len(err) and err.max() <= PHASE_TOL_DEG):
        errs.append(f"gain phase error {err.max() if len(err) else float('nan'):.2f} deg")
    n_int = int(true.shape[0])
    if len(g) != n_int * truth.shape.n_pol * truth.shape.n_ant:
        errs.append(f"{len(g)} gain solutions")
    rfi = truth.rfi_rows
    recall = np.isin(rfi, out["flagged_ids"]).mean() if len(rfi) else 1.0
    if not recall >= RFI_RECALL:
        errs.append(f"RFI recall {recall:.3f}")
    s = truth.shape
    want_rows = (-(-s.n_time // BIN_TIME)) * s.n_baseline * (-(-s.n_chan // BIN_CHAN)) * s.n_pol
    if out["avg_rows"] != want_rows:
        errs.append(f"averaged rows {out['avg_rows']} != {want_rows}")
    return errs


def count_vis_prep(ctx: Ctx, got: dict) -> dict:
    pol = got["summary"][got["summary"]["group_key"] == "pol"]
    return {"operators.flags.flagged_frac": pol["flagged"].sum() / pol["total"].sum(),
            "calibration.solutions": len(got["gains"])}


# --- corpus_dedup -----------------------------------------------------------

def run_corpus(ctx: Ctx) -> dict:
    from cngi_prototype_spark.dedup.dedup import dedup_corpus
    from cngi_prototype_spark.similarity.ann import cosine_pairs_lsh

    docs = ctx.spark.read.parquet(ctx.path("docs"))
    emb = ctx.spark.read.parquet(ctx.path("embeddings"))
    deduped = _layer(ctx, "dedup", lambda: dedup_corpus(docs), ctx.persist)
    pairs = _layer(ctx, "similarity", lambda: cosine_pairs_lsh(emb), ctx.persist)
    return {"deduped": deduped, "pairs": pairs}


def collect_corpus(out: dict) -> dict:
    return {"canonical": out["deduped"].select("doc_id", "canonical_id").toPandas(),
            "pairs": out["pairs"].select("id_a", "id_b").toPandas()}


def count_corpus(ctx: Ctx, got: dict) -> dict:
    """Candidate and verified pair counts of both layers.

    ``dedup_corpus`` and ``cosine_pairs_lsh`` do not expose their
    candidate sets, so this re-runs the candidate stages with the same
    settings, outside the timed and traced runs."""
    from cngi_prototype_spark.dedup.dedup import minhash_lsh_candidates, ngram_jaccard_pairs
    from cngi_prototype_spark.similarity.ann import _estimated_corpus_rows, _lsh_tag

    docs = ctx.spark.read.parquet(ctx.path("docs"))
    cands = ctx.persist(minhash_lsh_candidates(docs))
    n_cand = cands.count()
    n_pairs = ngram_jaccard_pairs(docs, threshold=0.8, candidates=cands).count()
    emb = ctx.spark.read.parquet(ctx.path("embeddings"))
    sizes = (_lsh_tag(emb, n_rows=_estimated_corpus_rows(emb))
             .groupBy("band", "sig").count()
             .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("c"))
             .collect()[0]["c"])
    n_sim = len(got["pairs"])
    return {"dedup.candidates": n_cand, "dedup.pairs": n_pairs,
            "dedup.yield": n_pairs / n_cand if n_cand else 0.0,
            "similarity.candidates": int(sizes or 0), "similarity.pairs": n_sim,
            "similarity.yield": n_sim / sizes if sizes else 0.0}


def _pair_scores(pred: set, labels: np.ndarray) -> tuple[float, float]:
    """(recall, precision) of predicted id pairs against planted clusters."""
    planted = set()
    for c in np.unique(labels[labels >= 0]):
        ids = np.sort(np.nonzero(labels == c)[0])
        planted |= {(int(a), int(b)) for i, a in enumerate(ids) for b in ids[i + 1:]}
    hit = len(pred & planted)
    return (hit / len(planted) if planted else 1.0,
            hit / len(pred) if pred else 1.0)


def cluster_pairs(doc_ids: np.ndarray, canonical: np.ndarray) -> set:
    pairs = set()
    groups: dict[int, list[int]] = {}
    for d, c in zip(doc_ids.tolist(), canonical.tolist()):
        groups.setdefault(c, []).append(d)
    for members in groups.values():
        members.sort()
        pairs |= {(a, b) for i, a in enumerate(members) for b in members[i + 1:]}
    return pairs


def gate_corpus(out: dict, truth) -> list[str]:
    """Recall and precision on the planted clusters, for both layers."""
    doc_labels, vec_labels = truth
    errs = []
    can = out["canonical"]
    r, p = _pair_scores(cluster_pairs(can["doc_id"].to_numpy(),
                                      can["canonical_id"].to_numpy()), doc_labels)
    if not (r >= DEDUP_RECALL and p >= DEDUP_PRECISION):
        errs.append(f"dedup recall {r:.3f} precision {p:.3f}")
    pr = out["pairs"]
    pred = {(min(a, b), max(a, b)) for a, b in zip(pr["id_a"].tolist(), pr["id_b"].tolist())}
    r, p = _pair_scores(pred, vec_labels)
    if not (r >= SIM_RECALL and p >= SIM_PRECISION):
        errs.append(f"similarity recall {r:.3f} precision {p:.3f}")
    return errs


# --- prep_dedup: the vis_prep chain, then the corpus_dedup chain -------------

def run_prep_dedup(ctx: Ctx) -> dict:
    t = time.monotonic()
    prep = run_vis_prep(ctx)
    t_prep = time.monotonic() - t
    corpus = run_corpus(ctx)
    return {"prep": prep, "corpus": corpus,
            "chain_s": {"vis": t_prep, "docs": time.monotonic() - t - t_prep}}


def collect_prep_dedup(out: dict) -> dict:
    return {"prep": collect_vis_prep(out["prep"]), "corpus": collect_corpus(out["corpus"])}


def gate_prep_dedup(got: dict, truth: dict) -> list[str]:
    return gate_vis_prep(got["prep"], truth["vis"]) + gate_corpus(got["corpus"], truth["labels"])


def count_prep_dedup(ctx: Ctx, got: dict) -> dict:
    return {**count_vis_prep(ctx, got["prep"]), **count_corpus(ctx, got["corpus"])}


# --- registry ---------------------------------------------------------------

@dataclass(frozen=True)
class Workload:
    name: str
    run: object
    collect: object  # gathers the gate's inputs after the timed section
    gate: object
    counts: object  # per-layer counts for the traced run
    make_store: object  # (path, seed) -> (truth, input shape, input counts)


def _imaging_store(path: str, seed: int):
    s = IMAGING_SHAPE
    truth = gen.write_vis_store(os.path.join(path, "vis"), s, seed, corrupt=False)
    shape = {"vis": s.n_vis, "ant": s.n_ant, "time": s.n_time, "chan": s.n_chan,
             "pol": s.n_pol, "grid": s.grid_n, "support": s.support}
    return {"vis": truth}, shape, {"vis": s.n_vis}


def _prep_dedup_store(path: str, seed: int):
    s, c = PREP_SHAPE, CORPUS_SHAPE
    truth = gen.write_vis_store(os.path.join(path, "vis"), s, seed, corrupt=True)
    labels = gen.write_corpus_store(path, c, seed)
    shape = {"vis": s.n_vis, "ant": s.n_ant, "time": s.n_time, "chan": s.n_chan,
             "pol": s.n_pol, "hole_frac": s.hole_frac, "docs": c.n_docs,
             "words": c.words, "vectors": c.n_vec, "dim": c.dim,
             "clusters": c.n_clusters, "cluster_size": c.cluster_size}
    return ({"vis": truth, "labels": labels}, shape,
            {"vis": s.n_vis, "docs": c.n_docs, "vectors": c.n_vec})


WORKLOADS = {
    "imaging_cycle": Workload("imaging_cycle", run_imaging, collect_imaging, gate_imaging,
                              count_imaging, _imaging_store),
    "prep_dedup": Workload("prep_dedup", run_prep_dedup, collect_prep_dedup,
                           gate_prep_dedup, count_prep_dedup, _prep_dedup_store),
}
