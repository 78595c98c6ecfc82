"""The benchmark's workloads: what one pass asks of the engine and how
each answer is checked.

A request is one public call (a mass OLS fit, a media encode or a
media decode) followed by its sink write. ``build`` is the
call, ``sink`` the write; the harness times both. ``check`` re-runs the
request untimed, collects its output and compares it with an
independent answer, so a wrong output counts as a failed request.
"""

from __future__ import annotations

import importlib
import os
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import fixtures


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Request:
    name: str
    kind: str
    build: Callable
    check: Callable[[], bool]
    sink: Callable = noop_write


class Workload:
    """``stage`` writes the seeded inputs into ``dir`` (timed as set-up,
    repeated); ``open`` prepares the untimed reference answers;
    ``requests`` gives one pass in a seeded order."""

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.dir = ""

    def stage(self) -> None:
        raise NotImplementedError

    def open(self) -> None:
        pass

    def requests(self, rng: np.random.Generator) -> list[Request]:
        raise NotImplementedError


#: codec -> (registry query, module, synthesize function, extra kwargs)
CODECS = {
    "h264": ("m44_h264_longgop", "multimodal.h264_inter",
             "synthesize_h264_longgop_frames", {}),
    "jpeg": ("m5_jpeg_stats", "multimodal.jpeg", "synthesize_jpeg_images", {}),
    "flac": ("m30_flac_stereo", "multimodal.flac",
             "synthesize_flac_stereo_clips", {}),
    "tiff": ("m27_tiff_stats", "multimodal.tiff", "synthesize_tiff_images", {}),
    "inflate": ("m29_gzip_inflate", "sources.inflate",
                "synthesize_gzip_members", {"text_col": "text"}),
    "mp3": ("m34_mp3_samples", "multimodal.mp3l3", "synthesize_mp3_l3_clips", {}),
    "bzip2": ("s32_bzip2_shards", "sources.bzip2", "synthesize_bzip2_docs",
              {"text_col": "text"}),
    "zstd": ("s25b_zstd_decode", "sources.zstdmeta",
             "synthesize_zstd_compressed_docs", {"text_col": "text"}),
}


class MediaCodec(Workload):
    """Per codec, an encode (``synthesize_*`` over the documents table,
    written to parquet) and a decode (the registry query's features
    and trailing projection over that parquet). The pure-Python H.264
    and MP3 kernels take about half of a warm pass; the only shuffle is
    the small repartition that spreads the documents over the cores.

    A decode is checked against the query's DuckDB oracle SQL over the
    same staged documents, by the order-insensitive value comparison
    of ``tools/check_oracle.py``; an encode by its row count.
    """

    N_DOCS = 1000

    def stage(self) -> None:
        fixtures.write_documents(f"{self.dir}/documents.parquet", self.seed, self.N_DOCS)

    def open(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.duck = duckdb.connect()
        self.duck.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{self.dir}/documents.parquet')"
        )

    def oracle_matches(self, query: str, build: Callable) -> bool:
        from tools.check_oracle import normalize

        got = build().toPandas()
        want = self.duck.execute(self.oracles[query]).df()
        return (
            sorted(got.columns) == sorted(want.columns)
            and len(got) == len(want)
            and normalize(got) == normalize(want)
        )

    def _media_dir(self, codec: str) -> str:
        return f"{self.dir}/media/{codec}"

    @contextmanager
    def _staged_input(self, codec: str):
        """Run the registry query with its encoder replaced by a read
        of the parquet the encode request wrote, so the query's own
        decode path and projection are what is timed."""
        _, module, fn_name, _ = CODECS[codec]
        mod = importlib.import_module(f"neuroimaging_data_pipeline_spark.{module}")
        encoder = getattr(mod, fn_name)
        path = self._media_dir(codec)
        setattr(mod, fn_name, lambda *a, **k: self.spark.read.parquet(path))
        try:
            yield
        finally:
            setattr(mod, fn_name, encoder)

    def _encoded_rows(self, codec: str) -> int:
        d = self._media_dir(codec)
        return sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    def requests(self, rng):
        from neuroimaging_data_pipeline_spark.sources.tables import read_table

        out = []
        for codec in rng.permutation(list(CODECS)):
            query, module, fn_name, kw = CODECS[codec]
            mod = importlib.import_module(f"neuroimaging_data_pipeline_spark.{module}")

            def encode(fn=getattr(mod, fn_name), kw=kw):
                docs = read_table(self.spark, self.dir, "documents", min_partitions="cores")
                return fn(docs, id_col="doc_id", **kw)

            def write(df, c=codec):
                df.write.mode("overwrite").parquet(self._media_dir(c))

            def decode(c=codec, q=query):
                with self._staged_input(c):
                    return self.queries[q](self.spark, self.dir)

            out.append(Request(
                f"{codec}.encode", "encode", encode,
                lambda c=codec: self._encoded_rows(c) == self.N_DOCS, write,
            ))
            out.append(Request(
                f"{codec}.decode", "decode", decode,
                lambda q=query, b=decode: self.oracle_matches(q, b),
            ))
        return out


class CohortGLM(Workload):
    """``operators.ols.mass_ols`` over a seeded long-format cohort: the
    paper's per-subject GLM (296 TRs, design width 40), where shuffle,
    Arrow transfer and the numpy solve dominate."""

    N_SUBJECTS = 2
    N_VOXELS = 8_000
    N_FILES = 8
    N_CHECKED = 64

    def stage(self) -> None:
        self.design, self.values = fixtures.make_cohort(
            self.seed, self.N_SUBJECTS, self.N_VOXELS
        )
        fixtures.write_cohort(self.dir, self.values, self.N_FILES)

    @property
    def n_voxels(self) -> int:
        return self.N_SUBJECTS * self.N_VOXELS

    def open(self) -> None:
        self.regs = ["intercept"] + [f"r{j}" for j in range(fixtures.DESIGN_WIDTH - 1)]
        frames = []
        for s in range(self.N_SUBJECTS):
            d = pd.DataFrame(self.design, columns=self.regs)
            d.insert(0, "t", np.arange(fixtures.N_TR))
            d.insert(0, "run", 0)
            d.insert(0, "subject", f"sub-{s:03d}")
            frames.append(d)
        self.design_pdf = pd.concat(frames, ignore_index=True)
        rows = self.N_SUBJECTS * self.N_VOXELS * fixtures.N_TR
        # the operator's shuffle sized to the data, as tools/bench_cohort.py does
        self.partitions = max(32, rows // 4_000_000)
        rng = np.random.default_rng([self.seed, 4])
        self.checked = np.sort(rng.choice(self.N_VOXELS, self.N_CHECKED, replace=False))

    def fit(self):
        from neuroimaging_data_pipeline_spark.operators.ols import mass_ols

        return mass_ols(
            self.spark.read.parquet(self.dir), self.design_pdf, self.regs,
            shuffle_partitions=self.partitions,
        )

    def reference(self) -> pd.DataFrame:
        """Beta and t of the checked voxels by float64 least squares.
        diag((X'X)^-1) comes from the QR factor, not from inverting
        X'X, whose error grows with the square of the design's
        condition number (some seeds draw two close cosines)."""
        X = self.design
        dof = X.shape[0] - np.linalg.matrix_rank(X)
        xtx_inv = (np.linalg.inv(np.linalg.qr(X, mode="r")) ** 2).sum(axis=1)
        rows = []
        for s in range(self.N_SUBJECTS):
            Y = self.values[s][:, self.checked]
            B = np.linalg.lstsq(X, Y, rcond=None)[0]
            mse = ((Y - X @ B) ** 2).sum(axis=0) / dof
            T = B / np.sqrt(np.outer(xtx_inv, mse))
            for j, reg in enumerate(self.regs):
                rows.append(pd.DataFrame({
                    "subject": f"sub-{s:03d}", "voxel_id": self.checked,
                    "regressor": reg, "beta": B[j], "t": T[j],
                }))
        return pd.concat(rows, ignore_index=True)

    def check(self) -> bool:
        from pyspark.sql import functions as F

        got = (
            self.fit()
            .filter(F.col("voxel_id").isin([int(v) for v in self.checked]))
            .select("subject", "voxel_id", "regressor", "beta", "t")
            .toPandas()
        )
        keys = ["subject", "voxel_id", "regressor"]
        m = self.reference().merge(got, on=keys, suffixes=("_ref", ""))
        if len(m) != len(got) or len(m) != self.N_SUBJECTS * self.N_CHECKED * len(self.regs):
            return False
        return all(
            np.allclose(m[c], m[f"{c}_ref"], rtol=1e-8, atol=1e-8 * np.abs(m[f"{c}_ref"]).max())
            for c in ("beta", "t")
        )

    def requests(self, rng):
        return [Request("mass_ols", "fit", self.fit, self.check)]

    def numpy_floor_s(self, repeats: int = 5) -> float:
        """Median time of the same fit (beta, t) in float64 numpy, in
        this process, whose BLAS the harness loads single-threaded."""
        X = self.design
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            pinv = np.linalg.pinv(X)
            dof = X.shape[0] - np.linalg.matrix_rank(X)
            xtx_inv = np.diag(pinv @ pinv.T)
            for Y in self.values:
                B = pinv @ Y
                mse = ((Y - X @ B) ** 2).sum(axis=0) / dof
                B / np.sqrt(np.outer(xtx_inv, mse))
            times.append(time.perf_counter() - t0)
        return float(np.median(times))


WORKLOADS = {"cohort_glm": CohortGLM, "media_codec": MediaCodec}
