"""Avro Object Container File (OCF) codec, stdlib-only — the row
format data-engineering pipelines interchange through. Spark's avro
module is an external jar not present in this environment, so the
format support here is from-scratch per the Avro 1.11 spec, the same
stance as the parquet-footer Thrift parser (sources/parquet_meta.py).

What is REAL here, both directions:

- the OCF container: ``Obj\\x01`` magic, the file-metadata map
  (avro.schema JSON + avro.codec) in Avro map encoding, a 16-byte
  sync marker, and data blocks framed as (row count, byte length,
  payload, sync) with the sync marker RE-VERIFIED per block;
- the binary encoding: zigzag varint longs, length-prefixed UTF-8
  strings, little-endian IEEE doubles, and union branch indexes
  (the ["null", T] nullable idiom);
- both standard codecs: ``null`` and ``deflate`` (raw DEFLATE,
  wbits=-15) — even shards null, odd shards deflate, so both paths
  stay hot;
- schema handling: the reader decodes by the WRITER's embedded
  schema (field order and types from the JSON), not by assumption —
  a reordered or retyped schema changes the decode accordingly
  (pinned in pytest).

Scale: shard packing is one keyed shuffle; parsing is a narrow
``mapInPandas`` over opaque shard blobs — at 100 TB the natural next
step is registering this as a Python DataSource like the TAR shards
(sources/datasource.py), which this module's (bytes -> rows) core
drops straight into.
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.bitio import (
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag,
)

_MAGIC = b"Obj\x01"

DOC_SCHEMA = {
    "type": "record",
    "name": "Document",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "label", "type": ["null", "string"]},
        {"name": "n_chars", "type": "long"},
        {"name": "text", "type": "string"},
    ],
}


# --- primitive binary encoding ------------------------------------------------


def write_long(out: bytearray, n: int) -> None:
    out += write_uvarint(zigzag(n) & 0xFFFFFFFFFFFFFFFF)


def read_long(buf: io.BytesIO) -> int:
    u, pos = read_uvarint(buf.getbuffer(), buf.tell(), 10)
    buf.seek(pos)
    return unzigzag(u)


def write_string(out: bytearray, s: str) -> None:
    raw = s.encode()
    write_long(out, len(raw))
    out += raw


def read_string(buf: io.BytesIO) -> str:
    n = read_long(buf)
    raw = buf.read(n)
    if len(raw) != n:
        raise ValueError("truncated Avro string")
    return raw.decode()


def write_double(out: bytearray, x: float) -> None:
    out += struct.pack("<d", x)


def read_double(buf: io.BytesIO) -> float:
    return struct.unpack("<d", buf.read(8))[0]


# --- schema-driven record codec -------------------------------------------------


def _encode_value(out: bytearray, typ, v) -> None:
    if isinstance(typ, list):  # union
        if v is None:
            if "null" not in typ:
                raise ValueError("None for non-nullable union")
            write_long(out, typ.index("null"))
            return
        branch = next(i for i, t in enumerate(typ) if t != "null")
        write_long(out, branch)
        _encode_value(out, typ[branch], v)
    elif typ == "long" or typ == "int":
        write_long(out, int(v))
    elif typ == "string":
        write_string(out, str(v))
    elif typ == "double":
        write_double(out, float(v))
    elif typ == "boolean":
        out.append(1 if v else 0)
    else:
        raise NotImplementedError(f"Avro type {typ!r} not supported")


def _decode_value(buf: io.BytesIO, typ):
    if isinstance(typ, list):
        branch = read_long(buf)
        if not 0 <= branch < len(typ):
            raise ValueError(f"union branch {branch} out of range")
        if typ[branch] == "null":
            return None
        return _decode_value(buf, typ[branch])
    if typ in ("long", "int"):
        return read_long(buf)
    if typ == "string":
        return read_string(buf)
    if typ == "double":
        return read_double(buf)
    if typ == "boolean":
        return buf.read(1) == b"\x01"
    raise NotImplementedError(f"Avro type {typ!r} not supported")


# --- OCF container --------------------------------------------------------------


def write_avro(
    rows: list[dict],
    schema: dict = DOC_SCHEMA,
    codec: str = "null",
    sync: bytes | None = None,
    rows_per_block: int = 32,
) -> bytes:
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"codec {codec!r} not supported")
    if sync is None:
        sync = hashlib.md5(json.dumps(schema).encode()).digest()
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    out = bytearray(_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")),
        "avro.codec": codec,
    }
    write_long(out, len(meta))
    for k, v in meta.items():
        write_string(out, k)
        write_string(out, v)
    write_long(out, 0)  # end of metadata map
    out += sync
    fields = schema["fields"]
    for at in range(0, len(rows), rows_per_block):
        block = rows[at : at + rows_per_block]
        body = bytearray()
        for row in block:
            for f in fields:
                _encode_value(body, f["type"], row[f["name"]])
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate
            payload = co.compress(bytes(body)) + co.flush()
        else:
            payload = bytes(body)
        write_long(out, len(block))
        write_long(out, len(payload))
        out += payload
        out += sync
    return bytes(out)


def read_avro(buf: bytes) -> tuple[dict, list[dict]]:
    """Parse an OCF file into (schema, rows), decoding by the
    embedded writer schema and re-verifying the sync marker after
    every block."""
    if bytes(buf[:4]) != _MAGIC:
        raise ValueError("not an Avro object container file")
    b = io.BytesIO(bytes(buf))
    b.seek(4)
    meta: dict[str, str] = {}
    while True:
        n = read_long(b)
        if n == 0:
            break
        if n < 0:  # negative count prefixes a byte size per spec
            read_long(b)
            n = -n
        for _ in range(n):
            # assignment RHS evaluates first in Python — read the key
            # explicitly before the value or they swap
            k = read_string(b)
            meta[k] = read_string(b)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", "null")
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"codec {codec!r} not supported")
    sync = b.read(16)
    fields = schema["fields"]
    rows: list[dict] = []
    while True:
        head = b.read(1)
        if not head:
            break
        b.seek(-1, io.SEEK_CUR)
        count = read_long(b)
        size = read_long(b)
        payload = b.read(size)
        if len(payload) != size:
            raise ValueError("truncated Avro block")
        if codec == "deflate":
            payload = zlib.decompress(payload, wbits=-15)
        pb = io.BytesIO(payload)
        for _ in range(count):
            rows.append(
                {f["name"]: _decode_value(pb, f["type"]) for f in fields}
            )
        if pb.read(1):
            raise ValueError("Avro block has trailing bytes")
        if b.read(16) != sync:
            raise ValueError("Avro sync marker mismatch")
    return schema, rows


# --- Spark surface ---------------------------------------------------------------


def synthesize_avro_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    docs_per_shard: int = 64,
) -> DataFrame:
    """Pack documents into Avro OCF shards: label is the nullable
    union (null when id % 5 == 0, else lang); even shards codec
    null, odd shards deflate."""
    out_schema = "shard_id long, content binary"

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        shard_id = int(pdf["_shard"].iloc[0])
        rows = [
            {
                "doc_id": int(r[id_col]),
                "label": None if int(r[id_col]) % 5 == 0 else r["lang"],
                "n_chars": int(r["n_chars"]),
                "text": "" if r["text"] is None else str(r["text"]),
            }
            for _, r in pdf.iterrows()
        ]
        content = write_avro(
            rows, codec="deflate" if shard_id % 2 else "null",
            sync=hashlib.md5(f"shard{shard_id}".encode()).digest(),
        )
        return pd.DataFrame({"shard_id": [shard_id], "content": [content]})

    from pyspark.sql import functions as F

    keyed = docs.select(
        id_col, "lang", "n_chars", "text",
        (F.col(id_col) / docs_per_shard).cast("long").alias("_shard"),
    )
    return keyed.groupBy("_shard").applyInPandas(build, out_schema)


def avro_documents(
    shards: DataFrame,
    content_col: str = "content",
) -> DataFrame:
    """Decode Avro OCF shards back into document rows (md5 of the
    carried text so the full string path is oracle-sealed)."""
    import hashlib as _h

    out_schema = "doc_id long, label string, n_chars long, text_md5 string"

    def parse_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, labels, ncs, md5s = [], [], [], []
            for content in pdf[content_col]:
                _, rows = read_avro(content)
                for r in rows:
                    ids.append(r["doc_id"])
                    labels.append(r["label"])
                    ncs.append(r["n_chars"])
                    md5s.append(_h.md5(r["text"].encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "label": pd.Series(labels, dtype=object),
                    "n_chars": pd.Series(ncs, dtype="int64"),
                    "text_md5": pd.Series(md5s, dtype=object),
                }
            )

    return shards.mapInPandas(parse_batches, out_schema)
