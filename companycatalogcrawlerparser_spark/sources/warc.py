"""WARC → pages-table ingestion source (ENGINE-NEW).

Reads Common-Crawl-style WARC files (``.warc`` / ``.warc.gz``) into the
engine's canonical pages schema ``(url, warc_ts, html, text, lang)``
(input_hint). Correctness is pinned two ways:

- the record parser here is an INDEPENDENT implementation (buffered
  line-reader state machine over the decompressed stream) from the
  pure-Python oracle ``refsem/warc.py`` (offset-scanning splitter) — the
  driver row ``warc_ingest`` hash-compares the two, so the check verifies
  WARC parse semantics, not just Arrow plumbing;
- ``tests/test_properties.py`` fuzzes both parsers with generated record
  sets and asserts identical output.

Execution shape — the standard Common-Crawl processing grain: the
distributed unit is the file PATH, never the file content. A metadata-only
``binaryFile`` listing (column-pruned to ``path`` — content is never
scanned) is repartitioned one-path-per-task-ish and a ``mapInPandas``
stage opens each file INSIDE the task, parses it, and yields that file's
pages as its own Arrow batch. This bounds peak task memory to ONE file +
its parsed pages no matter how many path rows share an Arrow batch —
shipping content-bearing rows instead would let the session's row-count
batch cap pack hundreds of ~1 GB gzip segments into a single batch (a
guaranteed task OOM), and shuffling them would move terabytes for nothing.
Parallelism is bounded by the file count, which at crawl scale is millions
of files, far above any executor count.

Filesystem note: files are opened with plain ``open`` on the path from
the listing (``file:`` URIs unwrapped), which covers local/NFS-mounted
data — this sandbox's layout. On object stores the same shape holds with
the store's reader client in ``_open_bytes`` (one task = one segment
stream, e.g. S3 ranged GETs for CC).

Oversized files (beyond one task's memory / one task's fair share of
wall time): :func:`read_warc_ranged` splits each PLAIN ``.warc`` file at
exact record boundaries — pass 1 walks the record chain per file reading
only headers and ``seek``-ing past blocks (no body bytes touched), emits
``(path, offset, length)`` ranges coalesced to ``target_bytes``; pass 2
parses ranges in parallel tasks. Boundaries come from the Content-Length
chain, never from magic-byte scanning, so a ``WARC/`` string inside an
HTTP body can't split a record and the ranged parse is bit-identical to
the whole-file parse (tested). Gzip members (``.warc.gz``) fall back to
one whole-file range — member boundaries are not findable without
decompressing; for those, :func:`read_warc_indexed` consumes a CDX
index (:func:`read_cdx`, the Common-Crawl index layout) whose rows
point at each record's own gzip member, giving record-level ranged
reads inside compressed segments (the standard CC random-access
pattern).

``text`` and ``lang`` are left null: they are downstream derivations
(extract / langid operators), not properties of the raw fetch.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import io
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

_CRLF = b"\r\n"


def _readline_crlf(buf) -> bytes:
    """One CRLF-terminated logical line. ``readline`` splits on bare LF,
    but WARC header lines terminate only at CRLF (the oracle splits the
    header block on CRLF exclusively, so a bare LF is header-value DATA,
    not a line break) — joining raw lines until a CRLF terminator keeps
    the two parsers in agreement on mixed line-ending input. The final
    unterminated line is returned as-is at EOF."""
    parts = []
    while True:
        chunk = buf.readline()
        parts.append(chunk)
        if not chunk or chunk.endswith(_CRLF):
            return b"".join(parts)


def _warc_datetime(value: str) -> Optional[_dt.datetime]:
    """ISO-8601 ``WARC-Date`` → naive UTC datetime, or None if invalid."""
    try:
        dt = _dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return dt


def parse_warc_pages(data: bytes) -> list:
    """(url, warc_ts datetime, html bytes) per ``WARC-Type: response``
    record, in file order — the engine-side parser.

    INDEPENDENT of the oracle ``refsem.warc.pages_from_warc`` by
    construction: a buffered line-reader state machine (readline until the
    ``WARC/`` version line, readline header lines to the blank separator,
    ``read(Content-Length)`` for the block) instead of the oracle's
    ``bytes.find`` offset scanning — the ``warc_ingest`` hash row compares
    the two end-to-end. Matching pinned semantics (refsem/warc.py module
    docstring): ``.warc.gz`` is concatenated gzip members; header names
    case-insensitive; only response records with a valid target URI + date
    yield pages; the page html is the HTTP body after the first CRLFCRLF
    (blocks with no separator taken whole); junk between records is
    skipped to the next record start; a missing/invalid Content-Length
    ends the file (can't locate the record boundary)."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.GzipFile(fileobj=io.BytesIO(data)).read()
    buf = io.BufferedReader(io.BytesIO(data))
    out = []
    while True:
        line = _readline_crlf(buf)
        if not line:
            break
        # seek the record start; the version marker may follow junk bytes
        # mid-line (the oracle resyncs with find("WARC/"))
        if line.find(b"WARC/") < 0:
            continue
        headers = {}
        terminated = False  # saw the CRLF blank line ending the header block
        while True:
            h = _readline_crlf(buf)
            if not h:
                break
            if h == _CRLF:
                terminated = True
                break
            name, colon, value = h.partition(b":")
            if colon:
                headers[
                    name.strip().decode("latin-1").lower()
                ] = value.strip().decode("latin-1")
        if not terminated:
            # no CRLFCRLF header terminator (truncated / LF-only file):
            # the record boundary is unlocatable — end of file, like the
            # oracle's failed CRLFCRLF search
            break
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        block = buf.read(length)
        if headers.get("warc-type") == "response":
            url = headers.get("warc-target-uri")
            ts = _warc_datetime(headers.get("warc-date", ""))
            if url and ts is not None:
                sep = block.find(_CRLF + _CRLF)
                out.append((url, ts, block if sep < 0 else block[sep + 4:]))
    return out


def warc_files(
    spark: SparkSession, path: str, glob: str = "*.warc*",
    partitions: Optional[int] = None,
) -> DataFrame:
    """Metadata-only listing: one ``path`` row per WARC file, spread
    round-robin over a BOUNDED partition count (``4·defaultParallelism``
    — no eager ``count()`` job, and no ``repartition(n_files)``
    multi-million-partition shuffle at CC scale; a task just works
    through its paths one file at a time). ``binaryFile`` with the
    projection pruned to ``path`` never reads file CONTENT — the scan
    touches listing metadata only (plan-pinned by ``tests/test_warc.py``);
    bytes are opened inside the :func:`read_warc` task, one file at a
    time."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path")
    )
    return files.repartition(partitions or 4 * _default_parallelism(spark))


def _local_path(path: str) -> str:
    """``file:`` URIs (the binaryFile listing form) unwrap to local
    paths; an object-store deployment swaps the open sites for the
    store's streaming client."""
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def _open_bytes(path: str) -> bytes:
    """One file's bytes, inside the task."""
    with open(_local_path(path), "rb") as f:
        return f.read()


def _record_offsets(fh) -> list:
    """Byte offsets of every record start in an OPEN plain-WARC stream —
    the exact boundary chain the parser follows: version line → header
    block → ``seek`` past Content-Length bytes (no body reads). Stops
    where :func:`parse_warc_pages` stops (unterminated header block /
    invalid Content-Length), so a range split at these offsets parses
    bit-identically to the whole file."""
    offsets = []
    while True:
        line_start = fh.tell()
        line = _readline_crlf(fh)
        if not line:
            break
        if line.find(b"WARC/") < 0:
            continue
        headers = {}
        terminated = False
        while True:
            h = _readline_crlf(fh)
            if not h:
                break
            if h == _CRLF:
                terminated = True
                break
            name, colon, value = h.partition(b":")
            if colon:
                headers[
                    name.strip().decode("latin-1").lower()
                ] = value.strip().decode("latin-1")
        if not terminated:
            break
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        fh.seek(length, 1)
        offsets.append(line_start)
    return offsets


def warc_ranges(
    spark: SparkSession,
    path: str,
    glob: str = "*.warc",
    target_bytes: int = 64 << 20,
    partitions: Optional[int] = None,
) -> DataFrame:
    """``(path, offset, length)`` record-aligned ranges per plain WARC
    file, coalesced to ~``target_bytes`` each and repartitioned ~one
    range per task — the parallel grain for files too large for the
    one-file-per-task path. Gzip files (magic header) yield a single
    whole-file range (see module docstring)."""
    import pandas as pd  # noqa: F401

    files = warc_files(spark, path, glob, partitions)

    def scan(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import os as _os

        import pandas as pd

        for b in batches:
            for p in b["path"]:
                local = _local_path(str(p))
                size = _os.path.getsize(local)
                with open(local, "rb") as fh:
                    if fh.read(2) == b"\x1f\x8b":
                        yield pd.DataFrame(
                            {"path": [p], "offset": [0], "length": [size]}
                        )
                        continue
                    fh.seek(0)
                    offsets = _record_offsets(fh)
                rows = []
                start = None
                for i, off in enumerate(offsets):
                    if start is None:
                        start = off
                    end = offsets[i + 1] if i + 1 < len(offsets) else size
                    if end - start >= target_bytes or i + 1 == len(offsets):
                        rows.append((p, start, end - start))
                        start = None
                if not offsets:
                    rows.append((p, 0, size))
                yield pd.DataFrame(rows, columns=["path", "offset", "length"])

    # No eager count(): a count job here would run the pass-1 boundary
    # scan (a header walk of EVERY file) twice — once for the count and
    # again when the repartitioned ranges feed pass 2. The bounded
    # round-robin spread keeps range rows ~evenly loaded without knowing n.
    ranges = files.mapInPandas(scan, schema="path string, offset long, length long")
    return ranges.repartition(partitions or 4 * _default_parallelism(spark))


def read_warc_ranged(
    spark: SparkSession,
    path: str,
    glob: str = "*.warc",
    target_bytes: int = 64 << 20,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Pages DataFrame with RANGE-level parallelism inside each plain
    WARC file — same output as :func:`read_warc` (tested bit-identical),
    for corpora whose files exceed a task's fair share."""
    import pandas as pd  # noqa: F401

    ranges = warc_ranges(spark, path, glob, target_bytes, partitions)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for b in batches:
            for p, off, ln in zip(b["path"], b["offset"], b["length"]):
                with open(_local_path(str(p)), "rb") as fh:
                    fh.seek(int(off))
                    chunk = fh.read(int(ln))
                out = {
                    "url": [], "warc_ts": [], "html": [], "text": [], "lang": [],
                }
                for url, ts, body in parse_warc_pages(chunk):
                    out["url"].append(url)
                    out["warc_ts"].append(ts)
                    out["html"].append(body)
                    out["text"].append(None)
                    out["lang"].append(None)
                if out["url"]:
                    # empty frames can't carry the timestamp dtype
                    # through pandas->Arrow; yielding nothing is fine
                    yield pd.DataFrame(out)

    return ranges.mapInPandas(run, schema=WARC_PAGES_SCHEMA)


def read_warc(
    spark: SparkSession, path: str, glob: str = "*.warc*",
    partitions: Optional[int] = None,
) -> DataFrame:
    """Pages DataFrame from every WARC file under ``path``."""
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    files = warc_files(spark, path, glob, partitions)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for b in batches:
            # one yield per FILE: however many path rows share this Arrow
            # batch, at most one file's bytes + pages are live at a time,
            # and output batches are bounded by one file's record count
            for p in b["path"]:
                out = {
                    "url": [], "warc_ts": [], "html": [], "text": [], "lang": [],
                }
                for url, ts, body in parse_warc_pages(_open_bytes(str(p))):
                    out["url"].append(url)
                    out["warc_ts"].append(ts)
                    out["html"].append(body)
                    out["text"].append(None)
                    out["lang"].append(None)
                if out["url"]:
                    # empty frames can't carry the timestamp dtype
                    # through pandas->Arrow; yielding nothing is fine
                    yield pd.DataFrame(out)

    return files.mapInPandas(run, schema=WARC_PAGES_SCHEMA)


# --------------------------------------------------------------------------
# CDX-indexed access — record-level parallelism inside .warc.gz segments

def read_cdx(spark: SparkSession, path: str, glob: str = "*.cdx*") -> DataFrame:
    """Parse CDXJ index files (the Common-Crawl index layout: per line
    ``urlkey timestamp {json}`` with ``url`` / ``filename`` / ``offset``
    / ``length`` / ``status`` fields — offsets point at the start of one
    record's own gzip member inside the ``.warc.gz`` segment). Native
    plan: text scan → two splits + from_json; rows with unparseable
    json/offset/length drop out (never fatal)."""
    lines = (
        spark.read.format("text")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    parts = F.split(F.col("value"), " ", 3)  # urlkey · timestamp · {json}
    j = F.from_json(
        parts[2],
        "url string, filename string, offset string, length string, "
        "status string",
    )
    return (
        lines.filter(F.size(parts) == 3)
        .select(
            parts[0].alias("urlkey"),
            parts[1].alias("cdx_ts"),
            j["url"].alias("url"),
            j["filename"].alias("warc_file"),
            j["offset"].try_cast("long").alias("offset"),
            j["length"].try_cast("long").alias("length"),
            j["status"].try_cast("int").alias("status"),
        )
        .filter(
            F.col("url").isNotNull()
            & F.col("warc_file").isNotNull()
            & F.col("offset").isNotNull()
            & F.col("length").isNotNull()
        )
    )


def read_warc_indexed(
    spark: SparkSession, cdx: DataFrame, warc_dir: str,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Pages from ``.warc.gz`` segments via a CDX index: every index row
    is an independent ranged read (seek offset, read length, gunzip ONE
    member, parse one record) — record-level parallelism inside gzip
    segments, which no scan of the segment itself can provide (member
    boundaries are invisible without decompressing; this is why
    :func:`warc_ranges` falls back to whole-file there). The standard
    Common-Crawl random-access pattern; on an object store the seek+read
    becomes a ranged GET. Tasks scale with INDEX rows, not files."""
    import os

    import pandas as pd  # noqa: F401

    # Distinct member coordinates: the CDX layout carries ONE LINE PER
    # PAGE, so a gzip member holding several page-yielding records (legal
    # WARC, non-CC layout — build_cdx_lines indexes it with multiple
    # lines sharing the same offset/length) would otherwise be ranged-read
    # once per line, duplicating every page in the member vs read_warc.
    # The ranged read is per-MEMBER (it parses all records in the member),
    # so dedupe to distinct (file, offset, length) first. No eager
    # count(): bounded round-robin spread, as for warc_files/warc_ranges.
    rows = cdx.select("warc_file", "offset", "length").distinct()
    rows = rows.repartition(partitions or 4 * _default_parallelism(spark))

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        # Unlike the file-grain readers, the row grain here is ONE gzip
        # member (typically one record), so a per-member DataFrame yield
        # would push one tiny Arrow batch per record through the bridge —
        # measured as the dominant cost at 128k records (r5 WARC XL
        # bench). Records accumulate into output batches under a byte
        # budget instead: small members amortize the Arrow round-trip,
        # and one oversized record still flushes alone, keeping the peak
        # task memory bound at budget + one member. Same-file rows are
        # read consecutively so each segment opens once per batch.
        FLUSH_BYTES = 32 << 20

        def fresh():
            return {"url": [], "warc_ts": [], "html": [], "text": [],
                    "lang": []}, 0

        for b in batches:
            triples = sorted(
                zip(b["warc_file"], b["offset"], b["length"]),
                key=lambda t: (str(t[0]), int(t[1])),
            )
            out, acc = fresh()
            cur_fn, fh = None, None
            try:
                for fn, off, ln in triples:
                    fn = str(fn)
                    if fn != cur_fn:
                        if fh is not None:
                            fh.close()
                        fh = open(os.path.join(warc_dir, fn), "rb")
                        cur_fn = fn
                    fh.seek(int(off))
                    member = fh.read(int(ln))
                    for url, ts, body in parse_warc_pages(member):
                        out["url"].append(url)
                        out["warc_ts"].append(ts)
                        out["html"].append(body)
                        out["text"].append(None)
                        out["lang"].append(None)
                        acc += len(body)
                    if acc >= FLUSH_BYTES:
                        yield pd.DataFrame(out)
                        out, acc = fresh()
            finally:
                if fh is not None:
                    fh.close()
            if out["url"]:
                yield pd.DataFrame(out)

    return rows.mapInPandas(run, schema=WARC_PAGES_SCHEMA)


def _default_parallelism(spark: SparkSession) -> int:
    return spark.sparkContext.defaultParallelism


def build_cdx_lines(data: bytes, filename: str) -> list:
    """CDXJ lines for a concatenated-gzip WARC segment (fixture/test
    helper; a real pipeline consumes the index CC publishes). Walks gzip
    member boundaries by decompressing sequentially — exactly the cost
    CDX indexes exist to pay ONCE at archive-build time."""
    import json as _json
    import zlib

    out = []
    pos = 0
    while pos < len(data):
        if data[pos:pos + 2] != b"\x1f\x8b":
            break
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        member = d.decompress(data[pos:])
        end = len(data) - len(d.unused_data)
        for url, ts, _body in parse_warc_pages(member):
            out.append(
                " ".join(
                    (
                        url.lower(),
                        ts.strftime("%Y%m%d%H%M%S"),
                        _json.dumps(
                            {
                                "url": url,
                                "filename": filename,
                                "offset": str(pos),
                                "length": str(end - pos),
                                "status": "200",
                            }
                        ),
                    )
                )
            )
        pos = end
    return out
