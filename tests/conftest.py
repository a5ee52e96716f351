"""Shared Spark session, FIXTURES.md-style synthetic methylation data,
and the plan-capture helper plan-shape tests assert on."""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pandas as pd
import pytest

from methyl_data_pipeline_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"


def explain(df, mode: str = "simple") -> str:
    """What ``df.explain(mode)`` prints, as a string — the public plan
    API, so plan-shape tests never reach into ``df._jdf``."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def _make_meth_pdf(seed: int = 42) -> pd.DataFrame:
    """FIXTURES.md F2: long meth table, 2 runs, overlapping probe sets,
    one bad sample, some missing probes, values in [0,1]."""
    rng = np.random.RandomState(seed)
    n_probes = 400
    probes = [f"cg{i:08d}" for i in range(n_probes)]
    # 2% control probes to exercise the ^cg filter
    probes[:4] = ["rs0001", "rs0002", "ch0001", "ch0002"]
    samples = [(f"TB{i}_1", "1") for i in range(1, 7)] + [
        (f"TB{i}_2", "2") for i in range(7, 13)
    ]
    rows = []
    for si, (sid, run) in enumerate(samples):
        # run 2 misses the last 15% of probes (row absence, SURVEY §7.3)
        probe_subset = probes if run == "1" else probes[: int(n_probes * 0.85)]
        for pi, p in enumerate(probe_subset):
            mix = rng.rand()
            if mix < 0.3:
                b = rng.beta(0.5, 8)
            elif mix < 0.8:
                b = rng.beta(8, 0.5)
            else:
                b = rng.beta(2, 2)
            if rng.rand() < 0.01:
                b = np.nan
            # sample TB12_2 is the bad-detP sample
            if sid == "TB12_2":
                detp = rng.uniform(0.04, 0.2)
            else:
                detp = rng.uniform(0, 0.02)
                if rng.rand() < 0.01:
                    detp = rng.uniform(0.05, 0.5)
            rows.append((p, sid, run, float(b) if not np.isnan(b) else None, float(detp)))
    return pd.DataFrame(rows, columns=["probe_id", "sample_id", "run", "beta", "det_p"])


def _make_probes_pdf(seed: int = 7) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    probes = [f"cg{i:08d}" for i in range(400)]
    probes[:4] = ["rs0001", "rs0002", "ch0001", "ch0002"]
    design = rng.choice([1, 2], size=len(probes), p=[0.2, 0.8])
    chrs = rng.choice([f"chr{i}" for i in range(1, 20)] + ["chrX", "chrY"], size=len(probes))
    return pd.DataFrame(
        {
            "probe_id": probes,
            "targetid": [f"{p}_{'11' if d == 1 else '21'}" for p, d in zip(probes, design)],
            "design_type": design.astype(int),
            "chr": chrs,
        }
    )


@pytest.fixture(scope="session")
def meth_pdf():
    return _make_meth_pdf()


@pytest.fixture(scope="session")
def meth(spark, meth_pdf):
    return spark.createDataFrame(meth_pdf).cache()


@pytest.fixture(scope="session")
def probes(spark):
    return spark.createDataFrame(_make_probes_pdf()).cache()
