"""CSV sources: all-string reads and the header-scanning messy reader.

The reference's ingestion model (SURVEY.md §1.2-1.3):

* every column ingests as **string** (``pd.read_csv(dtype=str)``, reference
  ``aggregate_by_store.py:123`` et al.) — coercion happens lazily per column
  via :func:`ting_data_etl_spark.functions.to_number`;
* BI-tool exports carry 0..n meta rows before the real header; the header is
  the first row whose cells contain the key column name (reference
  ``fan_out_by_storeid.py:16-30``); files with no such row are skipped with a
  warning (``:28-30``);
* ragged rows are tolerated (short rows → skipped/empty, reference
  ``fan_out_by_storeid.py:33-34``, ``verify_fanout.py:90-93``).

Scale design: the header scan reads only the first ``max_scan_bytes`` of each
file on the driver (one small ranged read per file — object-store friendly);
the bulk of the data is then read by Spark's distributed text reader and
parsed with ``from_csv``, dropping the known prefix lines by line position —
no full-file driver read, no RDD round-trip.
"""

from __future__ import annotations

import csv
import io
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ting_data_etl_spark.operators.relational import local_frame


def scan_csv_dir(path: str) -> list[str]:
    """Enumerate ``*.csv`` files (case-insensitive ext) in a flat directory.

    Mirrors reference ``fan_out_by_storeid.py:7-10`` / ``verify_fanout.py:8-13``.
    """
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.lower().endswith(".csv") and os.path.isfile(os.path.join(path, f))
    )


def all_string_schema(columns: list[str]) -> StructType:
    return StructType([StructField(c, StringType(), True) for c in columns])


def read_all_string_csv(
    spark: SparkSession, path: str, encoding: str = "utf-8"
) -> DataFrame:
    """CSV → DataFrame with every column as string (``dtype=str`` analogue).

    Header cells are whitespace-stripped wholesale (reference
    ``aggregate_by_store.py:468, 477, 554, 563``).
    """
    df = (
        spark.read.option("header", True)
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
        .option("inferSchema", False)  # everything stays StringType
        .csv(path)
    )
    renames = {c: c.strip() for c in df.columns if c != c.strip()}
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    return df


@dataclass
class MessyCsvResult:
    """A messy-CSV read: data plus the sidecar metadata the sink re-emits.

    ``raw_header`` is the header row exactly as parsed (unstripped,
    undeduplicated) — the row the reference re-serializes into every
    fanned-out per-store file (``fan_out_by_storeid.py:44-47``), kept
    alongside the normalized ``header`` the DataFrame columns use.
    """

    df: DataFrame
    header: list[str]
    meta_rows: list[list[str]] = field(default_factory=list)
    raw_header: list[str] | None = None
    skipped: bool = False  # True when no header row contained the key column


#: Charsets whose encoded bytes never produce a spurious 0x0A (newline) or
#: 0x22 (quote) inside a multi-byte sequence, so Hadoop's byte-oriented line
#: splitting and the ASCII quote-parity sweep both stay exact. big5/cp950
#: trail bytes are 0x40-0x7E / 0xA1-0xFE, gbk/gb18030 0x40-0xFE (minus 0x7F),
#: shift_jis 0x40-0x7E / 0x80-0xFC — all above 0x22. Single-byte latins are
#: trivially safe. UTF-16/32 are NOT (newline bytes appear inside units).
_LINE_SAFE_ENCODINGS = frozenset(
    {
        "utf-8", "ascii", "latin-1", "iso8859-1", "cp1252",
        "big5", "cp950", "big5hkscs",
        "gbk", "gb2312", "gb18030", "cp936",
        "shift_jis", "cp932", "euc_jp", "euc_kr", "cp949",
    }
)


def _canon_encoding(encoding: str) -> str:
    """Python-canonical codec name (e.g. ``latin-1`` → ``iso8859-1``).

    Every canonical name of the line-safe set is also a valid JVM charset
    name (probed against Spark 4.1's CSVOptions for all members), so the
    canonical form is what gets passed to the distributed reader — raw
    aliases like ``latin-1`` or ``ms950`` are NOT JVM-portable.
    """
    import codecs

    try:
        return codecs.lookup(encoding).name
    except LookupError:
        raise ValueError(
            f"unknown encoding {encoding!r}: not a Python codec name or "
            "alias (JVM-only aliases like 'ms950' are not accepted — use "
            "the standard name, e.g. 'cp950')"
        ) from None


def _scan_header(
    raw: bytes, key_col: str, encoding: str, max_rows: int = 50
) -> tuple[list[list[str]], list[str] | None, list[str] | None, int]:
    """Find the header row (first row containing *key_col*) in a file prefix.

    Returns (meta_rows, stripped_header_or_None, raw_header_or_None,
    header_line_index).
    """
    text = raw.decode(encoding, errors="replace")
    reader = csv.reader(io.StringIO(text))
    meta: list[list[str]] = []
    for i, row in enumerate(reader):
        if i >= max_rows:
            break
        if any(cell.strip() == key_col for cell in row):
            return meta, [c.strip() for c in row], row, i
        meta.append(row)
    return meta, None, None, -1


def read_messy_csv(
    spark: SparkSession,
    path: str,
    key_col: str,
    encoding: str = "utf-8",
    max_scan_bytes: int = 256 * 1024,
    validate_quotes: bool = True,
) -> MessyCsvResult:
    """Header-scanning CSV source (SURVEY.md §2.1 S3).

    Driver does ONE bounded ranged read (first ``max_scan_bytes``) to locate
    the header; Spark's distributed text reader then loads the whole file,
    the known meta/header prefix rows are dropped by line position, and data
    lines parse via ``from_csv`` with an explicit all-string schema. Ragged
    rows parse PERMISSIVE (missing cells → NULL ≈ the reference's skip/empty
    behavior).

    Two failure modes are rejected LOUDLY rather than silently misparsed:

    * *path* must be a single file — the prefix-drop counts physical lines
      of the first split, which is only well-defined for one file (a glob
      would interleave line numbering across files);
    * embedded newlines inside quoted cells break the line-oriented model
      (a CSV *record* would span several text lines): any such cell in the
      scanned prefix raises immediately, and ``validate_quotes`` adds a
      distributed sweep over the data region — a line where a quoted field
      OPENS (quote at line start or after a comma) but never closes means
      a record was torn apart. Bare quotes inside unquoted cells
      (``5" pipe``) are literal text and pass.
    """
    if not os.path.isfile(path):
        raise ValueError(
            f"read_messy_csv requires a single file, got {path!r} "
            "(for directories, loop per file — schemas differ per file anyway)"
        )
    enc = _canon_encoding(encoding)
    if enc not in _LINE_SAFE_ENCODINGS:
        raise ValueError(
            f"encoding {encoding!r} ({enc}) is not line-split-safe for the "
            "byte-oriented distributed reader (see _LINE_SAFE_ENCODINGS); "
            "transcode the export to utf-8 first"
        )
    with open(path, "rb") as f:
        raw = f.read(max_scan_bytes)
        truncated = len(raw) == max_scan_bytes
    if truncated:
        # the read can cut mid-line; a partial last line must not be parsed
        # as a real row (a header torn after 'store_id,mo' would otherwise
        # be ACCEPTED with missing trailing columns and every data row
        # would silently lose cells under PERMISSIVE)
        nl = raw.rfind(b"\n")
        raw = raw[: nl + 1] if nl >= 0 else b""
    meta, header, raw_header, header_idx = _scan_header(raw, key_col, encoding)
    # inspect the RAW rows: a quoted newline at a header cell's edge would
    # be stripped off the normalized header and evade a check on it
    for row in [*meta, *([raw_header] if raw_header else [])]:
        if any("\n" in cell or "\r" in cell for cell in row):
            raise ValueError(
                f"{path!r}: quoted embedded newline inside the meta/header "
                "prefix — line-positional prefix dropping would misalign; "
                "clean the export or parse this file with a multiLine reader"
            )
    if header is None:
        # No header row contains the key column: warn + skip
        # (reference fan_out_by_storeid.py:28-30 prints the same warning).
        import warnings

        warnings.warn(
            f"read_messy_csv: {path!r} has no header row containing "
            f"{key_col!r} in the first {max_scan_bytes} bytes — file skipped",
            stacklevel=2,
        )
        empty = local_frame(spark, [], all_string_schema(["_skipped"]))
        return MessyCsvResult(df=empty, header=[], meta_rows=meta, skipped=True)

    # Deduplicate header names the way BI exports need (a, a -> a, a_2).
    # The generated name is checked against every name already taken so a
    # header like 'a,a,a_2' yields a/a_2/a_2_2, never a duplicate (which
    # would make the from_csv DDL ambiguous downstream).
    seen: dict[str, int] = {}
    taken: set[str] = set()
    cols: list[str] = []
    for c in header:
        n = seen.get(c, 0)
        cand = c if n == 0 else f"{c}_{n + 1}"
        while cand in taken:
            n += 1
            cand = f"{c}_{n + 1}"
        seen[c] = n + 1
        taken.add(cand)
        cols.append(cand)

    if validate_quotes:
        # torn-record sweep: a quoted cell spanning physical lines is the
        # one shape the line-positional model cannot represent. Detector: a
        # FUNCTIONAL opening quote (directly after line start or a comma)
        # whose field never closes on the same line — i.e. the line matches
        # (^|,)" followed only by doubled quotes / non-quotes to EOL. A
        # bare quote INSIDE an unquoted cell ('5" pipe') is literal text to
        # every CSV parser and must NOT be rejected (a plain odd-parity
        # count would). One cheap column-pruned pass; fail loudly instead
        # of parsing garbage. The lossy utf-8 decode of spark.read.text is
        # fine HERE even for the non-utf-8 charsets: every
        # _LINE_SAFE_ENCODINGS member never emits 0x22 or 0x2C inside a
        # multi-byte sequence, so the ASCII quote/comma bytes the regex
        # anchors on survive the replacement-char mangling positionally
        # intact.
        lines = spark.read.text(path).withColumn(
            "_lineno", F.monotonically_increasing_id()
        )
        torn = F.col("value").rlike('(^|,)"(""|[^"])*$')
        if not lines.filter(F.col("_lineno") > header_idx).filter(torn).isEmpty():
            raise ValueError(
                f"{path!r}: data region contains a quoted embedded newline "
                "(a quoted field opens but never closes on its physical "
                "line); parse this file with a multiLine CSV reader instead"
            )

    if enc in ("utf-8", "ascii"):
        # Spark's CSV reader has no skipRows (as of 4.1), so: read as text,
        # drop the known prefix lines by position, parse with from_csv. For
        # a single file, monotonically_increasing_id() enumerates lines of
        # the first split in byte order with counter starting at 0, so ids
        # 0..header_idx are exactly the meta rows + header line (the 256 KB
        # scan bound guarantees they sit inside the first split).
        # backticks in a header cell must be doubled or the DDL mis-parses
        ddl = ", ".join(f"`{c.replace('`', '``')}` STRING" for c in cols)
        df = (
            spark.read.text(path)
            .withColumn("_lineno", F.monotonically_increasing_id())
            .filter(F.col("_lineno") > header_idx)
            # blank physical lines parse to an all-NULL row under from_csv
            # but are silently skipped by Spark's CSV reader — drop them so
            # both charset branches agree on row counts for the same bytes
            .filter(F.length(F.col("value")) > 0)
            .select(
                F.from_csv(F.col("value"), ddl, {"mode": "PERMISSIVE"}).alias("r")
            )
            .select("r.*")
        )
        return MessyCsvResult(
            df=df, header=cols, meta_rows=meta, raw_header=raw_header
        )

    # Non-utf-8 charset: spark.read.text decodes utf-8 only, so the data
    # region must go through the CSV reader's own charset support. The CSV
    # reader may not preserve physical line numbering (it can skip blank
    # lines), so instead of dropping a line COUNT we re-run the reference's
    # header-location rule on the PARSED records: the first record (within
    # the driver-scanned window) containing the key column is the header;
    # everything after it is data. The window is ≤ max_rows records — one
    # bounded driver collect, mirroring the byte-bounded header scan.
    # Spark 4 restricts CSV charsets to a short list unless the (public,
    # documented) legacy flag re-enables the full JVM charset set — Big5 &
    # friends live there. The flag is deliberately left set for the session:
    # CSVOptions re-reads it at EVERY action (verified empirically — a
    # restore breaks the lazy DataFrame this function returns), so a
    # save/restore scope is impossible for a lazy result. The flag only
    # widens the accepted charset list; it changes no parse behavior of
    # other reads. Set only when the charset actually needs it.
    _SPARK_DEFAULT_CHARSETS = {
        "utf-8", "utf-16", "utf-16be", "utf-16le",
        "utf-32", "utf-32be", "utf-32le", "iso8859-1", "ascii",
    }
    if enc not in _SPARK_DEFAULT_CHARSETS:
        spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    parsed = (
        spark.read.option("header", False)
        # the CANONICAL python codec name — probed JVM-valid for every
        # _LINE_SAFE_ENCODINGS member, unlike raw aliases ('latin-1')
        .option("encoding", enc)
        .option("mode", "PERMISSIVE")
        .schema(all_string_schema(cols))
        .csv(path)
        .withColumn("_rec", F.monotonically_increasing_id())
    )
    # first header_idx+1 records only: limit() stops the scan at the head
    # of the file instead of filtering a full pass (records of a single
    # CSV file arrive in file order; _rec stays for the hdr_rec value)
    window = sorted(
        parsed.limit(int(header_idx) + 1).collect(), key=lambda r: r["_rec"]
    )
    hdr_rec = None
    for r in window:
        cells = [r[c] for c in cols]
        if any(c is not None and c.strip() == key_col for c in cells):
            hdr_rec = r["_rec"]
            break
    if hdr_rec is None:
        raise ValueError(
            f"{path!r}: distributed {encoding} parse could not re-locate the "
            "header record the driver scan found — prefix alignment is off "
            "(blank/malformed meta lines?); clean the export"
        )
    df = parsed.filter(F.col("_rec") > hdr_rec).drop("_rec")
    return MessyCsvResult(df=df, header=cols, meta_rows=meta, raw_header=raw_header)


def valid_key_condition(key_col: str) -> F.Column:
    """Non-blank/non-NULL key predicate (reference ``fan_out_by_storeid.py:33-37``)."""
    return F.col(key_col).isNotNull() & (F.length(F.trim(F.col(key_col))) > 0)


def filter_valid_keys(df: DataFrame, key_col: str) -> DataFrame:
    """Drop rows with blank/NULL key (reference ``fan_out_by_storeid.py:33-37``)."""
    return df.filter(valid_key_condition(key_col))
