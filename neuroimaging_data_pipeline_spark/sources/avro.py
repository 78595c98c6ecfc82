"""REAL Avro Object Container File codec, stdlib-only.

Avro is the row-oriented companion to parquet in ingest pipelines
(Kafka topics, CDC streams land as .avro). This implements the binary
encoding itself — zigzag varints for longs, length-prefixed utf-8
strings, little-endian doubles — and the container framing: the
``Obj\\x01`` magic, the file-metadata map (``avro.schema`` JSON,
``avro.codec``), the 16-byte sync marker, and data blocks of
``<count varint><byte-size varint><records...><sync>`` with the sync
marker re-verified after every block (a corrupted or misframed block
raises). Supported record fields: long / string / double — the
shapes the fixture exercises; null codec (uncompressed) and deflate
(stdlib zlib) both real.

Same posture as the other format codecs: encode/decode inside
Arrow-batched mapInPandas over opaque binary columns, zero shuffle.
Independent verification: the SQL oracle recomputes the fixture
formulas; pytest round-trips writer->reader incl. multi-block files,
both codecs, and frame-corruption errors.
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.bitio import (
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag,
)

MAGIC = b"Obj\x01"


def _zigzag_encode(n: int) -> bytes:
    return write_uvarint(zigzag(n))


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    u, pos = read_uvarint(buf, pos, 10)
    return unzigzag(u), pos


def _enc_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _zigzag_encode(len(b)) + b


def _dec_str(buf: bytes, pos: int) -> tuple[str, int]:
    n, pos = _zigzag_decode(buf, pos)
    return buf[pos : pos + n].decode("utf-8"), pos + n


#: field layout of the fixture record schema, in declaration order
SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "rec_id", "type": "long"},
        {"name": "tag", "type": "string"},
        {"name": "score", "type": "double"},
    ],
}


def write_avro(
    records: list[tuple[int, str, float]],
    codec: str = "null",
    sync: bytes = b"0123456789abcdef",
    block_size: int = 4,
) -> bytes:
    """Spec-valid container: metadata map, sync marker, records split
    into blocks of ``block_size``."""
    assert len(sync) == 16
    body = bytearray(MAGIC)
    meta = {
        "avro.schema": json.dumps(SCHEMA, separators=(",", ":")),
        "avro.codec": codec,
    }
    body += _zigzag_encode(len(meta))
    for k, v in sorted(meta.items()):
        body += _enc_str(k) + _enc_str(v)
    body += _zigzag_encode(0)  # end of metadata map
    body += sync
    for i in range(0, len(records), block_size):
        blk = records[i : i + block_size]
        payload = bytearray()
        for rid, tag, score in blk:
            payload += _zigzag_encode(rid)
            payload += _enc_str(tag)
            payload += struct.pack("<d", score)
        raw = bytes(payload)
        if codec == "deflate":
            raw = zlib.compress(raw, 6)[2:-4]  # raw deflate, no zlib wrap
        body += _zigzag_encode(len(blk))
        body += _zigzag_encode(len(raw))
        body += raw
        body += sync
    return bytes(body)


def read_avro(data: bytes) -> list[tuple[int, str, float]]:
    """Parse container + records; verifies magic, schema name, codec,
    and the sync marker after EVERY block."""
    if data[:4] != MAGIC:
        raise ValueError("not an avro container: bad magic")
    pos = 4
    meta: dict[str, str] = {}
    while True:
        n, pos = _zigzag_decode(data, pos)
        if n == 0:
            break
        if n < 0:  # negative count form: abs count then byte size
            n = -n
            _, pos = _zigzag_decode(data, pos)
        for _ in range(n):
            k, pos = _dec_str(data, pos)
            v, pos = _dec_str(data, pos)
            meta[k] = v
    codec = meta.get("avro.codec", "null")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec}")
    schema = json.loads(meta["avro.schema"])
    if [f["type"] for f in schema["fields"]] != ["long", "string", "double"]:
        raise ValueError("unexpected schema layout")
    sync = data[pos : pos + 16]
    pos += 16
    out: list[tuple[int, str, float]] = []
    while pos < len(data):
        count, pos = _zigzag_decode(data, pos)
        size, pos = _zigzag_decode(data, pos)
        raw = data[pos : pos + size]
        pos += size
        if codec == "deflate":
            raw = zlib.decompress(raw, wbits=-zlib.MAX_WBITS)
        rpos = 0
        for _ in range(count):
            rid, rpos = _zigzag_decode(raw, rpos)
            tag, rpos = _dec_str(raw, rpos)
            (score,) = struct.unpack_from("<d", raw, rpos)
            rpos += 8
            out.append((rid, tag, score))
        if rpos != len(raw):
            raise ValueError("block payload length mismatch")
        if data[pos : pos + 16] != sync:
            raise ValueError(f"sync marker mismatch after block at {pos}")
        pos += 16
    return out


# -------------------------------------------------- deterministic fixture

def _fixture_records(doc_id: int) -> list[tuple[int, str, float]]:
    """6 + doc_id % 5 records per file; integer-valued doubles so the
    oracle's arithmetic is exact."""
    n = 6 + doc_id % 5
    return [
        (
            doc_id * 100 + j,
            f"tag{(doc_id + j) % 7}",
            float((doc_id * 13 + j * 29) % 1000),
        )
        for j in range(n)
    ]


def synthesize_avro_files(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(media_id, content binary): one real container per document;
    odd ids use the deflate codec, block size 4 forces multi-block
    framing for every file."""
    out_schema = "media_id long, content binary"

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                write_avro(
                    _fixture_records(int(i)),
                    codec="deflate" if int(i) % 2 else "null",
                )
                for i in pdf[id_col]
            ]
            yield pd.DataFrame({"media_id": pdf[id_col], "content": payloads})

    return docs.select(id_col).mapInPandas(encode_batches, out_schema)


def avro_features(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Decode with the REAL reader; per-file (n_records, sum_rec_id,
    n_tags, sum_score) — any framing/varint/codec bug shifts these."""
    out_schema = (
        f"{id_col} long, n_records int, sum_rec_id long, "
        "n_tags int, sum_score double"
    )

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[content_col]):
                recs = read_avro(bytes(payload))
                rows.append(
                    (
                        mid,
                        len(recs),
                        sum(r[0] for r in recs),
                        len({r[1] for r in recs}),
                        float(sum(r[2] for r in recs)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col,
                    "n_records",
                    "sum_rec_id",
                    "n_tags",
                    "sum_score",
                ],
            )

    return media.mapInPandas(feat_batches, out_schema)
