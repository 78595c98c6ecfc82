"""Seeded inputs for the benchmark, written as parquet with pyarrow.

``write_documents`` produces the ``documents`` table, the input
of the media registry queries, with the schema and value ranges of the
repository's generated test data. ``make_cohort`` and ``write_cohort``
produce the long-format BOLD cohort the mass OLS operator fits: one
row per (subject, run, t, voxel_id).

Everything is a pure function of the seed, so a seed names its inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join"
    " key line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """The ``documents`` table: word-salad texts of 8-99 words
    over the test data's vocabulary, with language, source and length."""
    rng = np.random.default_rng([seed, 1])
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(8, 100, n_docs)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# -- cohort ---------------------------------------------------------------

N_TR = 296
DESIGN_WIDTH = 40


def make_cohort(seed: int, n_subjects: int, n_voxels: int):
    """Return (design (T x K), values (S x T x V)) for one seeded cohort.

    The design is an intercept plus 39 seeded cosine regressors, the
    ``tools/bench_cohort.py`` shape with random frequencies and phases;
    each voxel is a planted linear response plus unit Gaussian noise.
    """
    rng = np.random.default_rng([seed, 2])
    t = np.arange(N_TR, dtype=np.float64)[:, None]
    freq = rng.uniform(0.01, 0.5, DESIGN_WIDTH - 1)
    phase = rng.uniform(0.0, 2 * np.pi, DESIGN_WIDTH - 1)
    design = np.hstack([np.ones((N_TR, 1)), np.cos(t * freq + phase)])
    betas = rng.normal(0.0, 1.0, (n_subjects, DESIGN_WIDTH, n_voxels))
    noise = rng.normal(0.0, 1.0, (n_subjects, N_TR, n_voxels))
    return design, np.einsum("tk,skv->stv", design, betas) + noise


def write_cohort(out_dir: str, values: np.ndarray, n_files: int) -> None:
    """Write ``values`` (S x T x V) as long-format parquet in ``n_files``
    files, so the scan has as many splits as there are cores."""
    n_sub, n_tr, n_vox = values.shape
    os.makedirs(out_dir, exist_ok=True)
    edges = np.linspace(0, n_vox, n_files + 1).astype(int)
    for i, (v0, v1) in enumerate(zip(edges[:-1], edges[1:])):
        width = v1 - v0
        block = values[:, :, v0:v1]
        rows = n_sub * n_tr * width
        pq.write_table(
            pa.table({
                "subject": pa.array(
                    np.repeat([f"sub-{s:03d}" for s in range(n_sub)], n_tr * width)
                ),
                "run": pa.array(np.zeros(rows, np.int32)),
                "t": pa.array(np.tile(np.repeat(np.arange(n_tr), width), n_sub)),
                "voxel_id": pa.array(np.tile(np.arange(v0, v1), n_sub * n_tr)),
                "value": pa.array(block.reshape(-1)),
            }),
            f"{out_dir}/part-{i:03d}.parquet",
            compression="snappy",
        )
