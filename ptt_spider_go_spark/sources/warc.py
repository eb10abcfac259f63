"""WARC response-record archive source/sink (Common Crawl's raw format).

X40 (sources/wet.py) covers the extracted-text WET shape; the raw
crawl itself is published as WARC: ISO 28500 records with CRLF-framed
named headers and an embedded HTTP message as the block, the whole
record delimited by Content-Length octet counts at BOTH levels (WARC
record block, then the HTTP payload inside it). This module carries
that real framing — CRLF line endings, case-insensitive header
names, octet-exact double Content-Length, an HTTP/1.1 status line
with a multi-word reason phrase — over (doc_id, url, warc_date,
status, payload) rows:

    WARC/1.1<CRLF>
    WARC-Type: response<CRLF>
    WARC-Record-ID: <urn:doc:{doc_id}><CRLF>
    WARC-Date: {warc_date}<CRLF>
    WARC-Target-URI: {url}<CRLF>
    Content-Type: application/http; msgtype=response<CRLF>
    Content-Length: {octets of the HTTP block}<CRLF>
    <CRLF>
    HTTP/1.1 {status} {reason}<CRLF>
    Content-Type: text/html; charset=UTF-8<CRLF>
    Content-Length: {octets of payload}<CRLF>
    <CRLF>
    {payload}<CRLF><CRLF>

`write_warc` renders each record as ONE string column and writes with
`write.text` — zero extra shuffles beyond the optional shard-count
repartition, and every part file is a standalone valid WARC (records
are self-delimiting, concatenation is the composition rule — real
WARC's own property). `read_warc` mirrors production WARC processing
(warcio, FastWARC, Spark CC pipelines): the FILE is the split unit
(real WARCs are per-record-gzip'd ~1 GB shards, unsplittable
mid-stream), listed via the binaryFile source and parsed in one
Arrow-batched mapInPandas kernel — parallelism = shard count, the
same contract CC jobs have.

Because framing is Content-Length octets (never delimiter search), a
payload that CONTAINS the bytes "\\r\\n\\r\\nWARC/1.1" cannot desync the
reader — the adversarial-payload pytest pins that, the same way the
WET reader pins its header-injection case.

Reference parity: the reference fetches live HTML per URL
(client.go); a bulk raw-crawl archive source is extension X62
(SURVEY §2) — the input shape a Common-Crawl-style 100 TB corpus
actually arrives in.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WARC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("url", StringType()),
    StructField("warc_date", StringType()),
    StructField("status", IntegerType()),
    StructField("mime", StringType()),
    StructField("payload", StringType()),
])

#: the only two statuses the synthetic corpus emits; real deployments
#: pass a full reason map or store the raw reason column.
REASONS = {200: "OK", 404: "Not Found"}

_CRLF = "\r\n"


def write_warc(pages: DataFrame, path: str,
               n_files: int | None = None) -> None:
    """Render (doc_id, url, warc_date, status, payload) rows as
    WARC/1.1 response records; one narrow projection + write.text.
    Both Content-Length values count UTF-8 OCTETS (octet_length), so
    multi-byte payloads round-trip exactly. Part files are named by
    partition only (`_drop_job_uuids`)."""
    reason = F.coalesce(
        F.element_at(
            F.create_map(*[
                F.lit(x) for kv in REASONS.items() for x in kv
            ]),
            F.col("status"),
        ),
        F.lit("Unknown"),
    )
    http_block = F.concat(
        F.lit("HTTP/1.1 "), F.col("status").cast("string"),
        F.lit(" "), reason, F.lit(_CRLF),
        F.lit("Content-Type: text/html; charset=UTF-8" + _CRLF),
        F.lit("Content-Length: "),
        F.octet_length(F.col("payload")).cast("string"),
        F.lit(_CRLF + _CRLF),
        F.col("payload"),
    )
    rec = F.concat(
        F.lit("WARC/1.1" + _CRLF),
        F.lit("WARC-Type: response" + _CRLF),
        F.lit("WARC-Record-ID: <urn:doc:"),
        F.col("doc_id").cast("string"), F.lit(">" + _CRLF),
        F.lit("WARC-Date: "), F.col("warc_date"), F.lit(_CRLF),
        F.lit("WARC-Target-URI: "), F.col("url"), F.lit(_CRLF),
        F.lit("Content-Type: application/http; msgtype=response" + _CRLF),
        F.lit("Content-Length: "),
        F.octet_length(http_block).cast("string"),
        F.lit(_CRLF + _CRLF),
        http_block,
        F.lit(_CRLF + "\r"),  # + write.text's '\n' = record-final CRLFCRLF
    )
    out = pages.select(rec.alias("value"))
    if n_files is not None:
        out = out.repartition(n_files)
    out.write.mode("overwrite").text(path)
    _drop_job_uuids(pages.sparkSession, path)


#: Spark's part-file name: part-<task partition>-<job uuid>-c<file>.<ext>
_PART_NAME = re.compile(
    r"^(part-\d+)-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}(-.*)$"
)


def _drop_job_uuids(spark: SparkSession, path: str) -> None:
    """Rename every part file under `path` to its name without the
    write job's random uuid (part-00000-c000.txt), so a shard's name
    depends only on its partition and a CDX index over the archive is
    the same on every run. Goes through the Hadoop FileSystem of
    `path`, like the write itself."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    root = jpath(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.listStatus(root):
        m = _PART_NAME.match(st.getPath().getName())
        if m:
            fs.rename(st.getPath(), jpath(root, m.group(1) + m.group(2)))


def _parse_warc_bytes(blob: bytes) -> Iterator[
        tuple[int, str, str, int, str, str, int, int]]:
    """Parse one WARC shard's bytes into records. Header names are
    case-insensitive (ISO 28500 §4); blocks are framed by
    Content-Length octets only — never by searching for the next
    record marker.

    Each yield carries (…, offset, record_len): the byte span of the
    record within the shard, INCLUDING the two terminating CRLFs when
    present — blob[offset:offset+record_len] is a standalone parseable
    record, which is exactly the contract a CDX index needs
    (sinks/cdx.py) and what range-requests against an archive shard
    serve."""
    i, n = 0, len(blob)
    while i < n:
        while i < n and blob[i:i + 1] in (b"\r", b"\n"):
            i += 1  # inter-record CRLFs (and text-sink newlines)
        if i >= n:
            break
        rec_start = i
        j = blob.index(b"\r\n", i)
        magic = blob[i:j]
        if magic not in (b"WARC/1.1", b"WARC/1.0"):
            raise ValueError(f"WARC: bad magic {magic!r} at byte {i}")
        i = j + 2
        headers: dict[str, str] = {}
        while True:
            j = blob.index(b"\r\n", i)
            line = blob[i:j].decode("utf-8")
            i = j + 2
            if not line:
                break
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        length = int(headers["content-length"])
        block = blob[i:i + length]
        i += length
        rec_len = i - rec_start + (4 if blob[i:i + 4] == b"\r\n\r\n" else 0)
        if headers.get("warc-type") != "response":
            continue  # warcinfo/request/metadata records: skip
        # --- embedded HTTP message ---
        j = block.index(b"\r\n")
        status_line = block[:j].decode("utf-8")
        status = int(status_line.split(" ", 2)[1])
        k = block.index(b"\r\n\r\n", j)
        mime = "application/octet-stream"
        for line in block[j + 2:k].decode("utf-8").split("\r\n"):
            name, _, v = line.partition(":")
            if name.strip().lower() == "content-type":
                mime = v.strip()
            elif name.strip().lower() == "content-length":
                if int(v.strip()) != length - (k + 4):
                    raise ValueError(
                        "WARC: inner/outer Content-Length mismatch"
                    )
        payload = block[k + 4:].decode("utf-8")
        rid = headers.get("warc-record-id", "")
        doc_id = int(rid.removeprefix("<urn:doc:").rstrip(">"))
        yield (doc_id, headers.get("warc-target-uri", ""),
               headers.get("warc-date", ""), status, mime, payload,
               rec_start, rec_len)


def read_warc(spark: SparkSession, path: str,
              with_offsets: bool = False) -> DataFrame:
    """Read a directory of WARC shard files as (doc_id, url,
    warc_date, status, mime, payload). File-per-task via binaryFile
    (module docstring: the split contract real WARC processing has),
    parsed in one Arrow-batched mapInPandas pass.

    `with_offsets=True` appends (filename, offset, record_len): the
    shard basename and the record's exact byte span within it, straight
    from the parser's framing walk — the capture-location triple a CDX
    index row points at (sinks/cdx.py), with no cumulative-sum
    reconstruction needed."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .load(path)
        .select("path", "content")
    )
    base_cols = ["doc_id", "url", "warc_date", "status", "mime", "payload"]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                fname = fpath.rsplit("/", 1)[-1]
                for rec in _parse_warc_bytes(bytes(blob)):
                    rows.append(
                        rec[:6] + (fname, rec[6], rec[7])
                        if with_offsets
                        else rec[:6]
                    )
            cols = base_cols + (
                ["filename", "offset", "record_len"] if with_offsets else []
            )
            yield pd.DataFrame(rows, columns=cols)

    schema = (
        WARC_SCHEMA
        if not with_offsets
        else StructType(
            WARC_SCHEMA.fields
            + [
                StructField("filename", StringType()),
                StructField("offset", LongType()),
                StructField("record_len", LongType()),
            ]
        )
    )
    return files.mapInPandas(parse, schema=schema)
