"""H.264 CABAC P slices (clause 9.3, inter syntax): the P-slice entry
points of the CABAC entropy layer.

A CABAC P GOP is the CAVLC one of h264_inter.py with the other entropy
coder: the same IDR-then-P stream loop, _InterSlice (spec validation,
motion prediction, P_Skip, inter prediction) and slice header writer
and parser, with the macroblock syntax coded by the one CABAC
macroblock layer of h264_cabac.py. The anchor is a CABAC I slice of
Intra_16x16 and I_4x4 macroblocks; P slices code skip, 16x16 / 16x8 /
8x16, P_8x8 with all four sub types, ref_idx when more than one
reference is active, and Intra_16x16 macroblocks.

What is NOT here (raised loudly): the P/B columns of the
context-initialization tables (9.3.1.1, the published (m, n) values
per cabac_init_idc). Those are pure DATA; every code path is exercised
end to end by injecting an explicit init table (any (m, n) assignment
yields a self-consistent arithmetic code, which is exactly why round
trips pin the machinery while conformance against externally-encoded
CABAC-inter streams stays gated until the spec columns land).
``P_CTX_IDS`` enumerates precisely the contexts a table must cover; it
has none for the I_4x4 prediction modes (68/69), so I_4x4 and I_PCM
macroblocks in P slices raise NotImplementedError.

Reference parity: preprocess_parallel.sh:59-182 shells out for
video; CABAC+inter is the profile virtually all real H.264 uses.
"""

from __future__ import annotations

from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import _Ctx
from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    _decode_stream,
    _encode_p_gop,
)

# Context ids a P-slice init table must cover (beyond the engine):
# mb_skip 11..13, mb_type prefix 14..16 + intra suffix 17..20,
# sub_mb_type 21..23, mvd x/y 40..53, ref_idx 54..59, mb_qp_delta
# 60..63, intra_chroma_pred_mode 64..67, CBP 73..84, coded_block_flag
# 85..104, significance maps 105..226, levels 227..275.
P_CTX_IDS = tuple(
    list(range(11, 24)) + list(range(40, 68))
    + list(range(73, 276))
)

_NO_TABLE = (
    "CABAC P slices need the 9.3.1.1 P-column init data "
    "(not transcribed) or an explicit init_table"
)


def make_p_ctx(qp: int, init_table: dict) -> _Ctx:
    """Context variables from an EXPLICIT (m, n) table (9.3.1.1
    initialization arithmetic). The spec P/B columns are the
    remaining transcription gate; tests inject synthetic tables."""
    missing = [c for c in P_CTX_IDS if c not in init_table]
    if missing:
        raise NotImplementedError(
            "CABAC P-slice context initialization: the spec (m, n) "
            f"columns are not transcribed (first missing ctxIdx "
            f"{missing[0]} of {len(missing)}); inject an explicit "
            "table to drive the machinery"
        )
    return _Ctx(qp, init_table)


def synthetic_p_init(seed: int = 0) -> dict:
    """A deterministic NON-SPEC init table covering P_CTX_IDS —
    clearly labeled: it exercises the machinery, it does not decode
    externally-encoded streams."""
    return {
        c: (((seed * 3 + c * 5) % 41) - 20, 30 + (seed + c * 7) % 60)
        for c in P_CTX_IDS
    }


def encode_h264_cabac_p_gop(
    frames: list,
    specs_per_p: list,
    qp: int = 0,
    num_refs: int = 1,
    init_table: dict | None = None,
) -> tuple[bytes, list]:
    """CABAC twin of h264_inter.encode_h264_p_gop for the mb_specs
    ("skip",), ("i16",), 16x16 / 16x8 / 8x16 partitions and P_8x8 with
    optional per-partition / per-8x8 ref_idx: a CABAC IDR anchor
    (Intra_16x16 and I_4x4 on a checkerboard) followed by CABAC P
    slices. ``init_table`` drives the P context initialization —
    REQUIRED until the spec P/B columns are transcribed (see module
    docstring). Returns (annex_b_bytes, [recon planes per frame])."""
    if init_table is None:
        raise NotImplementedError(_NO_TABLE)
    return _encode_p_gop(frames, specs_per_p, qp, num_refs,
                         p_ctx=lambda q: make_p_ctx(q, init_table))


def decode_h264_cabac_p(
    payload: bytes, init_table: dict | None = None
) -> list:
    """Decode a CABAC IDR + P stream produced by encode_h264_cabac_p_gop
    to its frames in decode order, through h264_inter's stream decoder
    with ``init_table`` (the 9.3.1.1 P columns remain the transcription
    gate)."""
    if init_table is None:
        raise NotImplementedError(_NO_TABLE)
    return _decode_stream(payload, lambda q: make_p_ctx(q, init_table))[0]
