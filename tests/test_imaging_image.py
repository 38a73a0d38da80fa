"""Image formation: FFT plane UDF vs direct numpy; sky frame; airy PB."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cngi_prototype_spark.imaging.grid import GridParms, grid_visibilities
from cngi_prototype_spark.imaging.image import (
    image_from_grid,
    make_empty_sky_image,
    make_pb,
    make_psf,
)
from cngi_prototype_spark.imaging.kernels import airy_disk, pswf

GP = GridParms(n_u=32, n_v=32, cell_u=4.0e-5, cell_v=4.0e-5, support=7, oversampling=100)


def test_image_from_grid_matches_numpy(spark):
    rng = np.random.default_rng(5)
    cells = pd.DataFrame({
        "chan": np.zeros(40, np.int32), "pol": np.zeros(40, np.int32),
        "u_idx": rng.integers(4, 28, 40).astype(np.int32),
        "v_idx": rng.integers(4, 28, 40).astype(np.int32),
        "grid_re": rng.normal(size=40), "grid_im": rng.normal(size=40),
    }).groupby(["chan", "pol", "u_idx", "v_idx"], as_index=False).sum()
    sumw = pd.DataFrame({"chan": [0], "pol": [0], "sum_weight": [7.5]})

    out = image_from_grid(
        spark.createDataFrame(cells), spark.createDataFrame(sumw), GP,
        image_size=(24, 24)).toPandas()

    g = np.zeros((32, 32), np.complex128)
    g[cells.u_idx, cells.v_idx] = cells.grid_re + 1j * cells.grid_im
    img = np.fft.fftshift(np.fft.ifft2(np.fft.ifftshift(g)))
    img = img[4:28, 4:28].real * (32 * 32) / 7.5
    cu = pswf((np.arange(32) - 16) / 16)[0][4:28]
    img = img / np.outer(cu, cu)

    got = np.zeros((24, 24))
    got[out.l_idx, out.m_idx] = out.image
    np.testing.assert_allclose(got, img, atol=1e-12)
    assert len(out) == 24 * 24


def test_psf_peaks_at_center(spark):
    rng = np.random.default_rng(9)
    n = 500
    pdf = pd.DataFrame({
        "u": rng.uniform(-3000, 3000, n), "v": rng.uniform(-3000, 3000, n),
        "freq": np.full(n, 1.0e9),
        "chan": np.zeros(n, np.int32), "pol": np.zeros(n, np.int32),
        "imaging_weight": np.ones(n),
    })
    psf = make_psf(spark.createDataFrame(pdf), GP).toPandas()
    peak = psf.loc[psf.psf.idxmax()]
    assert (peak.l_idx, peak.m_idx) == (GP.n_u // 2, GP.n_v // 2)
    assert peak.psf == pytest.approx(1.0, rel=0.05)


def test_sky_image_world_coords(spark):
    ra0, dec0 = 0.8, -0.4
    sky = make_empty_sky_image(spark, (ra0, dec0), (16, 16), (1e-4, 1e-4)).toPandas()
    center = sky[(sky.l_idx == 8) & (sky.m_idx == 8)].iloc[0]
    assert center.right_ascension == pytest.approx(ra0, abs=1e-12)
    assert center.declination == pytest.approx(dec0, abs=1e-12)
    assert center.l == 0.0 and center.m == 0.0
    # independent SIN de-projection check at an off-center pixel
    p = sky[(sky.l_idx == 2) & (sky.m_idx == 13)].iloc[0]
    l, m = p.l, p.m
    z = np.sqrt(1 - l * l - m * m)
    dec = np.arcsin(m * np.cos(dec0) + z * np.sin(dec0))
    ra = ra0 + np.arctan2(l, np.cos(dec0) * z - m * np.sin(dec0))
    assert p.declination == pytest.approx(dec, abs=1e-12)
    assert p.right_ascension == pytest.approx(ra, abs=1e-12)


def test_airy_pb(spark):
    sky = make_empty_sky_image(spark, (0.0, 0.0), (16, 16), (5e-6, 5e-6))
    pb = make_pb(sky, [1.0e9, 1.1e9], dish_diameter=25.0).toPandas()
    assert len(pb) == 16 * 16 * 2
    center = pb[(pb.l_idx == 8) & (pb.m_idx == 8)]
    assert (center.pb == 1.0).all()
    p = pb[(pb.l_idx == 10) & (pb.m_idx == 8) & (pb.chan == 0)].iloc[0]
    r = abs(p.l) * (2 * np.pi * 1.0e9 / 299792458.0) * 12.5
    assert p.pb == pytest.approx(float(airy_disk(np.array([r]))[0]), rel=1e-12)


def test_make_grid_named_surface(spark):
    """make_grid (make_grid.py:100-143) = gridding without the FFT:
    identical cells/sum_weight to grid_visibilities."""
    import numpy as np
    import pandas as pd

    from cngi_prototype_spark.imaging.grid import GridParms, grid_visibilities
    from cngi_prototype_spark.imaging.image import make_grid

    rng = np.random.default_rng(2)
    n = 500
    pdf = pd.DataFrame({
        "u": rng.uniform(-9000, 9000, n), "v": rng.uniform(-9000, 9000, n),
        "freq": np.full(n, 1.0e9),
        "chan": np.zeros(n, np.int32), "pol": np.zeros(n, np.int32),
        "data_re": rng.normal(size=n), "data_im": rng.normal(size=n),
        "imaging_weight": rng.uniform(0.5, 2.0, n),
    })
    gp = GridParms(n_u=64, n_v=64, cell_u=2e-5, cell_v=2e-5,
                   support=7, oversampling=100)
    df = spark.createDataFrame(pdf)
    g1, s1 = make_grid(df, gp)
    g2, s2 = grid_visibilities(df, gp, weight="imaging_weight")
    p1 = g1.toPandas().sort_values(["u_idx", "v_idx"]).reset_index(drop=True)
    p2 = g2.toPandas().sort_values(["u_idx", "v_idx"]).reset_index(drop=True)
    assert len(p1) == len(p2) and np.allclose(p1.grid_re, p2.grid_re)
    assert np.isclose(s1.toPandas().sum_weight[0], s2.toPandas().sum_weight[0])


def test_make_image_and_psf_matches_separate_passes(spark):
    """The fused single-pass image+PSF must reproduce make_image and
    make_psf per pixel — INCLUDING rows whose weight is valid but
    whose data is zero or null (flagged visibilities): those rows
    reach a standalone make_psf (its re=None prepare filters on
    weight) but not make_image, so the fused path must carry them in
    the PSF aggregation + sum_weight_psf while masking them out of
    the image terms."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from cngi_prototype_spark.imaging.grid import GridParms
    from cngi_prototype_spark.imaging.image import (
        make_image, make_image_and_psf, make_psf)

    gp = GridParms(n_u=32, n_v=32, cell_u=4.0e-5, cell_v=4.0e-5,
                   support=7, oversampling=100)
    rng = np.random.default_rng(8)
    n = 500
    data_re = rng.normal(size=n) + 3.0  # bounded away from 0
    data_im = rng.normal(size=n)
    # 15% zero data, 10% null data — all with valid weights
    data_re[:75] = 0.0
    data_im[:75] = 0.0
    data_re[75:125] = np.nan  # → null via pandas NaN round trip? no:
    data_im[75:125] = np.nan  # NaN stays NaN; set null in Spark below
    vis = spark.createDataFrame(pd.DataFrame({
        "u": rng.uniform(-2500, 2500, n),
        "v": rng.uniform(-2500, 2500, n),
        "freq": np.full(n, 1.0e9),
        "chan": rng.integers(0, 2, n).astype(np.int32),
        "pol": np.zeros(n, np.int32),
        "data_re": data_re,
        "data_im": data_im,
        "imaging_weight": rng.uniform(0.5, 2.0, n),
    }))
    vis = vis.withColumn(
        "data_re", F.when(F.isnan("data_re"), F.lit(None))
        .otherwise(F.col("data_re"))).withColumn(
        "data_im", F.when(F.isnan("data_im"), F.lit(None))
        .otherwise(F.col("data_im"))).persist()
    key = ["chan", "pol", "l_idx", "m_idx"]
    img = make_image(vis, gp, image_size=(24, 24)) \
        .toPandas().sort_values(key).reset_index(drop=True)
    psf = make_psf(vis, gp, image_size=(24, 24)) \
        .toPandas().sort_values(key).reset_index(drop=True)
    # the fused path grids per task; a 7-way repartition splits every
    # plane's partial grids (and normalizer partials) across tasks,
    # which the plane kernel must sum
    for src in (vis, vis.repartition(7)):
        fused = make_image_and_psf(src, gp, image_size=(24, 24)) \
            .toPandas().sort_values(key).reset_index(drop=True)
        assert len(fused) == len(img) == len(psf) > 0
        assert np.allclose(fused.image, img.image, rtol=0, atol=1e-9)
        assert np.allclose(fused.psf, psf.psf, rtol=0, atol=1e-9)
    vis.unpersist()
