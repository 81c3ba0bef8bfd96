"""WARC parser malformed-input fuzz lane (round-10 verdict item 4).

``sources/warc.py`` claims spec-strict fail-loud parsing, but until
this lane only VALID archives were exercised end-to-end. Here each
case starts from a REAL valid archive (the same synthesizers the
oracle fixtures use) and applies a byte-level mutation — truncated
gzip member, stripped mandatory header, corrupted/negative/overlong
Content-Length, LF-only line endings, corrupted record trailer,
foreign leading bytes, colon-less header, orphan continuation line —
then asserts:

1. PARSER level: ``iter_warc_records`` raises the documented error
   (``ValueError`` with byte-offset context for layout violations;
   ``EOFError``/``gzip.BadGzipFile`` from the decompressor for
   gzip-member corruption — documented in ``_wrap_archive``).
2. ENGINE level: the same mutated file read through the full Spark
   DataSource path (``read_warc`` over a directory) fails the job
   loudly with the same message — no silent row drops, no partial
   results.
3. VALID control: the untouched sibling archives still parse and the
   gated registry queries (``warc_records``, ``warc_gopher_lines``)
   still hash green against their DuckDB oracles.

Usage: python tools/fuzz_warc.py [sf_dir]    (default sf0.001)
Commit the output as tools/logs/fuzz_warc_r{N}.log.

The package is imported from this checkout (the parent of tools/);
Spark's Python workers need the same root on PYTHONPATH, e.g.
``PYTHONPATH=. python tools/fuzz_warc.py``.
"""

from __future__ import annotations

import glob
import gzip
import io
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from map_reduce_project_spark import get_spark  # noqa: E402
from map_reduce_project_spark.sources.warc import (  # noqa: E402
    iter_warc_records,
    read_warc,
    synth_conversion_record,
    synth_warcinfo_record,
)


def _plain_archive() -> bytes:
    return synth_warcinfo_record(0) + b"".join(
        synth_conversion_record(d) for d in (3, 11, 42)
    )


def _gzip_archive() -> bytes:
    buf = io.BytesIO()
    for rec in [synth_warcinfo_record(1)] + [
        synth_conversion_record(d) for d in (5, 7)
    ]:
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(rec)
    return buf.getvalue()


# (name, file suffix, mutation fn, expected exception types,
#  required message substring or None)
CASES = [
    (
        "gzip_member_truncated",
        ".warc.gz",
        lambda b: b[:-20],  # cut the last member's tail + CRC/ISIZE
        (EOFError, gzip.BadGzipFile, ValueError),
        None,
    ),
    (
        "gzip_garbage_tail",
        ".warc.gz",
        lambda b: b + b"\x1f\x8bNOT-A-MEMBER",
        (EOFError, gzip.BadGzipFile, ValueError),
        None,
    ),
    (
        "missing_content_length",
        ".warc",
        lambda b: b.replace(
            b"Content-Length: ", b"X-Not-Length: ", 1
        ),
        (ValueError,),
        "missing Content-Length",
    ),
    (
        "non_integer_content_length",
        ".warc",
        lambda b: _edit_first_length(b, b"Content-Length: 12abc"),
        (ValueError,),
        "non-integer Content-Length",
    ),
    (
        "negative_content_length",
        ".warc",
        lambda b: _edit_first_length(b, b"Content-Length: -5"),
        (ValueError,),
        "negative Content-Length",
    ),
    (
        "declared_length_past_eof",
        ".warc",
        lambda b: _edit_first_length(
            b, b"Content-Length: 99999999"
        ),
        (ValueError,),
        "truncated payload",
    ),
    (
        "lf_only_line_endings",
        ".warc",
        lambda b: b.replace(b"\r\n", b"\n"),
        (ValueError,),
        None,  # version line OR header CRLF check, both documented
    ),
    (
        "corrupted_record_trailer",
        ".warc",
        lambda b: b[:-4] + b"XXXX",
        (ValueError,),
        "record trailer",
    ),
    (
        "foreign_leading_bytes",
        ".warc",
        lambda b: b"<!DOCTYPE html>\r\n" + b,
        (ValueError,),
        "version line",
    ),
    (
        "header_without_colon",
        ".warc",
        lambda b: b.replace(
            b"WARC-Type: warcinfo\r\n", b"WARC-Type warcinfo\r\n", 1
        ),
        (ValueError,),
        "header without ':'",
    ),
    (
        "orphan_continuation_line",
        ".warc",
        lambda b: b.replace(
            b"WARC/1.0\r\n", b"WARC/1.0\r\n folded-first\r\n", 1
        ),
        (ValueError,),
        "continuation line before any header",
    ),
    (
        "truncated_mid_headers",
        ".warc",
        lambda b: b[: b.index(b"Content-Length")],
        (ValueError,),
        None,  # non-CRLF final fragment or missing Content-Length
    ),
]


def _edit_first_length(b: bytes, new_line: bytes) -> bytes:
    start = b.index(b"Content-Length: ")
    end = b.index(b"\r\n", start)
    return b[:start] + new_line + b[end:]


def main() -> int:
    base_plain = _plain_archive()
    base_gz = _gzip_archive()
    failures = 0

    # ---- parser level ------------------------------------------------
    for name, suffix, mutate, exc_types, needle in CASES:
        raw = mutate(base_gz if suffix.endswith(".gz") else base_plain)
        stream: io.BufferedIOBase = io.BytesIO(raw)
        if suffix.endswith(".gz"):
            stream = io.BufferedReader(
                gzip.GzipFile(fileobj=io.BytesIO(raw))
            )
        try:
            n = len(list(iter_warc_records(stream, name)))
        except exc_types as e:
            msg = str(e)
            if needle is not None and needle not in msg:
                print(f"FAIL  parser {name}: wrong message: {msg!r}")
                failures += 1
            else:
                print(
                    f"ok    parser {name}: {type(e).__name__}: "
                    f"{msg[:90]}"
                )
        except Exception as e:  # wrong type = silent-corruption risk
            print(
                f"FAIL  parser {name}: unexpected "
                f"{type(e).__name__}: {e}"
            )
            failures += 1
        else:
            print(f"FAIL  parser {name}: parsed {n} records silently")
            failures += 1

    # ---- engine level (full Spark DataSource path) -------------------
    spark = get_spark("fuzz-warc")
    sc_log = spark.sparkContext.setLogLevel
    sc_log("FATAL")  # executor tracebacks are the assertion, not noise
    for name, suffix, mutate, exc_types, needle in CASES:
        d = tempfile.mkdtemp(prefix=f"fuzz_warc_{name}_")
        try:
            raw = mutate(
                base_gz if suffix.endswith(".gz") else base_plain
            )
            with open(os.path.join(d, f"bad{suffix}"), "wb") as f:
                f.write(raw)
            try:
                n = read_warc(spark, d).count()
            except Exception as e:
                # Spark wraps the executor's Python exception; the
                # documented message must survive the wrapping
                msg = str(e)
                want = needle or ""
                if (
                    want in msg
                    and ("ValueError" in msg or "EOFError" in msg
                         or "BadGzipFile" in msg or "PySparkRuntimeError"
                         in msg or "error" in msg.lower())
                ):
                    first = next(
                        (
                            ln
                            for ln in msg.splitlines()
                            if "Error" in ln or "error" in ln
                        ),
                        msg.splitlines()[0] if msg else "",
                    )
                    print(f"ok    spark  {name}: {first.strip()[:90]}")
                else:
                    print(
                        f"FAIL  spark  {name}: message lost the "
                        f"documented context: {msg[:200]!r}"
                    )
                    failures += 1
            else:
                print(f"FAIL  spark  {name}: job returned {n} rows")
                failures += 1
        finally:
            shutil.rmtree(d, ignore_errors=True)
    sc_log("WARN")

    # ---- valid control ------------------------------------------------
    d = tempfile.mkdtemp(prefix="fuzz_warc_valid_")
    try:
        with open(os.path.join(d, "good.warc"), "wb") as f:
            f.write(base_plain)
        with open(os.path.join(d, "good2.warc.gz"), "wb") as f:
            f.write(base_gz)
        n = read_warc(spark, d).count()
        if n == 7:  # 2 warcinfo + 5 conversion records
            print(f"ok    spark  valid_control: {n} records")
        else:
            print(f"FAIL  spark  valid_control: {n} records (want 7)")
            failures += 1
    finally:
        shutil.rmtree(d, ignore_errors=True)
    spark.stop()

    # ---- gated registry queries stay hash-green ----------------------
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import subprocess

    r = subprocess.run(
        [
            sys.executable,
            os.path.join(os.path.dirname(__file__), "oracle_check.py"),
            sf_dir,
            "warc_records",
            "warc_gopher_lines",
        ],
        capture_output=True,
        text=True,
    )
    tail = [ln for ln in r.stdout.splitlines() if ln.strip()][-3:]
    for ln in tail:
        print(f"gate  {ln}")
    if r.returncode != 0:
        failures += 1

    print(
        f"\nfuzz_warc: {len(CASES)} malformed cases x 2 layers + "
        f"valid control + oracle gate -> "
        f"{'ALL OK' if failures == 0 else f'{failures} FAILURES'}"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
