"""Document-extraction operators X1, X2, X4 and X5: PDF→text with an OCR
fallback, and per-page table detection with page counting — the
reference's subprocess black boxes re-shaped as Arrow-batched
`mapInPandas` operators.

Reference behavior (`/root/reference`):
- X1 `pdftotext -q` per file            (04_convert_contracts_to_text.py:265)
- X2 `pdftoppm` + `tesseract` per page  (04_convert_contracts_to_text.py:318,338)
- X4 pdfminer page count                (06_extract_tables.py:143-147)
- X5 `camelot.read_pdf` per page with a 10 s timeout, 0..n tables per page
  (06_extract_tables.py:197-220) — a flat-map (UDTF shape).

X2 runs inside `extract_text` (the scanned-document fallback) and X4 inside
`detect_tables` (the page loop). X3, the reference's `ebook-convert`/
`unoconv` doc→pdf step (04_convert_contracts_to_text.py:251,256), has no
operator here: no query, pipeline or CLI command runs it.

Spark design: each is a per-partition batched map over (id, payload) rows —
no shuffle, linear scaling with input splits; the reference's
one-subprocess-per-file loop becomes task parallelism. The per-page timeout
survives as a `TIMEOUT_SECONDS` guard inside the UDF (same signal/thread
technique would apply; the fakes below complete instantly).

Backend tiers (resolved lazily PER EXECUTOR, since worker images may
differ from the driver): for text/pages, `pypdf` -> poppler `pdftotext`
subprocess -> a pure-stdlib PDF parser (FlateDecode via zlib + Tj/TJ text
operators — genuinely functional on machine-generated PDFs with no
dependencies at all) -> the deterministic sha256 stub; for OCR,
`tesseract` -> stub; for tables, `camelot` -> stub. The ORACLED registry
queries pin `backend="stub"` explicitly so their DuckDB value oracles stay
valid in any environment; production callers use the default
`backend="auto"`. The Spark-side contract — schemas, batch iteration,
flat-map emission — is identical across tiers, so a tier swap changes one
resolved callable, not the plan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIMEOUT_SECONDS = 10  # per-page budget, 06_extract_tables.py:199

TEXT_SCHEMA = "id string, filename string, text string, method string"
TABLES_SCHEMA = (
    "id string, filename string, page int, table_no int, "
    "n_rows int, n_cols int, accuracy double"
)


def _fake_pdf_text(payload: bytes) -> str:
    """STUB for `pdftotext` (X1): deterministic text from the payload hash.
    Real impl: subprocess poppler / in-process pypdf."""
    h = hashlib.sha256(payload).hexdigest()
    return f"extracted text {h[:16]}"


def _fake_ocr(payload: bytes) -> str:
    """STUB for pdftoppm+tesseract (X2); 350 dpi grayscale per reference."""
    h = hashlib.sha256(payload).hexdigest()
    return f"ocr text {h[16:32]}"


def _fake_page_count(payload: bytes) -> int:
    """STUB for pdfminer's Pages Count (X4): byte-length derived."""
    return max(1, len(payload) // 64)


def _fake_tables(payload: bytes, page: int) -> list[tuple[int, int, float]]:
    """STUB for camelot per-page detection (X5): 0..2 tables per page,
    deterministic in (payload, page). Returns (n_rows, n_cols, accuracy).
    The page suffix is text-safe (no NUL bytes) so the stub is portable:
    DuckDB's sha256(VARCHAR) reproduces the digest for the value oracle."""
    h = hashlib.sha256(payload + f"|page:{page}".encode()).digest()
    n_tables = h[0] % 3
    return [
        (2 + h[1 + i] % 8, 1 + h[4 + i] % 5, round(0.5 + (h[8 + i] % 50) / 100, 2))
        for i in range(n_tables)
    ]


# ---------------------------------------------------------------------------
# Backend resolution (real adapters, gated on availability)
# ---------------------------------------------------------------------------


def _capabilities() -> dict[str, bool]:
    """Probe the CURRENT process for real extraction backends (memoized;
    called inside UDFs so each executor probes its own image)."""
    global _CAPS
    if _CAPS is None:
        import importlib.util as _ilu
        import shutil as _sh

        _CAPS = {
            "pypdf": _ilu.find_spec("pypdf") is not None
            or _ilu.find_spec("PyPDF2") is not None,
            "pdftotext": _sh.which("pdftotext") is not None,
            "tesseract": _sh.which("tesseract") is not None
            and _sh.which("pdftoppm") is not None,
            "camelot": _ilu.find_spec("camelot") is not None,
        }
    return _CAPS


_CAPS: dict | None = None


def _pypdf_reader(payload: bytes):
    import io

    try:
        from pypdf import PdfReader
    except ImportError:  # pragma: no cover - legacy name
        from PyPDF2 import PdfReader
    return PdfReader(io.BytesIO(payload))


def _pypdf_text(payload: bytes) -> str:
    return "\n".join(
        (page.extract_text() or "") for page in _pypdf_reader(payload).pages
    )


def _pypdf_page_count(payload: bytes) -> int:
    return max(1, len(_pypdf_reader(payload).pages))


def _poppler_text(payload: bytes) -> str:
    """`pdftotext -q <pdf> -` exactly as 04_convert_contracts_to_text.py:265,
    fed via a temp file (poppler reads seekable input)."""
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".pdf") as fh:
        fh.write(payload)
        fh.flush()
        out = subprocess.run(
            ["pdftotext", "-q", fh.name, "-"],
            capture_output=True,
            timeout=TIMEOUT_SECONDS,
        )
        return out.stdout.decode("utf-8", errors="replace")


_PDF_STR_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _pure_pdf_text(payload: bytes) -> str:
    """Dependency-free X1 tier: decompress FlateDecode content streams with
    stdlib zlib and collect the text-showing operators (`(..) Tj`,
    `[(..)..] TJ`) with PDF string unescaping. Handles the
    machine-generated PDFs that dominate contract dumps; returns '' on
    image-only/exotic files, which flows into the OCR fallback exactly like
    an empty pdftotext result (P13)."""
    import re as _re
    import zlib as _zlib

    chunks: list[bytes] = []
    for m in _re.finditer(rb"stream\r?\n(.*?)endstream", payload, _re.S):
        raw = m.group(1)
        try:
            chunks.append(_zlib.decompress(raw))
        except _zlib.error:
            chunks.append(raw)  # uncompressed content stream
    out: list[str] = []

    def _unescape(sb: bytes) -> str:
        res = bytearray()
        i = 0
        while i < len(sb):
            c = sb[i : i + 1]
            if c == b"\\" and i + 1 < len(sb):
                nxt = sb[i + 1 : i + 2]
                # Octal escape, up to 3 digits — membership in the OCTAL
                # set, not isdigit(): per PDF spec '\8'/'\9' are literal
                # digits, and int(b'8', 8) would raise mid-task.
                if nxt in b"01234567":
                    j = i + 1
                    while (
                        j < min(i + 4, len(sb)) and sb[j : j + 1] in b"01234567"
                    ):
                        j += 1
                    res.append(int(sb[i + 1 : j], 8) & 0xFF)
                    i = j
                    continue
                res.extend(_PDF_STR_ESCAPES.get(nxt, nxt))
                i += 2
                continue
            res.extend(c)
            i += 1
        return res.decode("utf-8", errors="replace")

    for content in chunks:
        for m in _re.finditer(
            rb"\(((?:[^()\\]|\\.)*)\)\s*Tj|\[((?:[^\]\\]|\\.)*)\]\s*TJ",
            content,
            _re.S,
        ):
            if m.group(1) is not None:
                out.append(_unescape(m.group(1)))
            else:
                for sm in _re.finditer(
                    rb"\(((?:[^()\\]|\\.)*)\)", m.group(2), _re.S
                ):
                    out.append(_unescape(sm.group(1)))
    return " ".join(t for t in out if t)


def _pure_page_count(payload: bytes) -> int:
    import re as _re

    n = len(_re.findall(rb"/Type\s*/Page[^s]", payload + b" "))
    return max(1, n)


def _tesseract_ocr(payload: bytes) -> str:
    """pdftoppm 350dpi grayscale -> tesseract per page
    (04_convert_contracts_to_text.py:318,338)."""
    import os as _os
    import subprocess
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        pdf = _os.path.join(td, "in.pdf")
        with open(pdf, "wb") as fh:
            fh.write(payload)
        subprocess.run(
            ["pdftoppm", "-r", "350", "-gray", "-png", pdf,
             _os.path.join(td, "pg")],
            capture_output=True,
            timeout=TIMEOUT_SECONDS * 6,
        )
        texts = []
        for img in sorted(_os.listdir(td)):
            if not img.endswith(".png"):
                continue
            r = subprocess.run(
                ["tesseract", _os.path.join(td, img), "stdout"],
                capture_output=True,
                timeout=TIMEOUT_SECONDS * 6,
            )
            texts.append(r.stdout.decode("utf-8", errors="replace"))
        return "\n".join(texts)


def _camelot_tables(payload: bytes, page: int) -> list[tuple[int, int, float]]:
    """camelot.read_pdf per page with the reference's 10 s budget
    (06_extract_tables.py:197-220)."""
    import tempfile

    import camelot

    with tempfile.NamedTemporaryFile(suffix=".pdf") as fh:
        fh.write(payload)
        fh.flush()
        tables = camelot.read_pdf(fh.name, pages=str(page))
        return [
            (t.shape[0], t.shape[1],
             round(float(t.parsing_report.get("accuracy", 0.0)) / 100, 2))
            for t in tables
        ]


def _try_chain(*tiers):
    """Run extraction tiers in order; a tier that RAISES (corrupt payload,
    pypdf PdfReadError, subprocess TimeoutExpired on a pathological page)
    falls through to the next tier instead of failing the Spark task — one
    bad document must never kill a 100 TB job (the reference's per-page
    timeout + skip-and-log posture, `06_extract_tables.py:197-215`). The
    LAST tier is the guaranteed-total fallback (stub / empty). Each
    fall-through is logged with the tier name and exception, so a
    programming error in a tier (NameError, AttributeError) or a transient
    backend failure is visible in executor logs instead of silently
    becoming an empty extraction."""
    import logging

    logger = logging.getLogger(__name__)

    def run(*args):
        for tier in tiers[:-1]:
            try:
                return tier(*args)
            except Exception as exc:  # noqa: BLE001 - backend failure degrades
                logger.warning(
                    "extraction tier %s failed (%s: %s); falling through",
                    getattr(tier, "__name__", repr(tier)),
                    type(exc).__name__,
                    exc,
                )
                continue
        return tiers[-1](*args)

    return run


def _pure_or_fake_text(p: bytes) -> str:
    return _pure_pdf_text(p) if p.startswith(b"%PDF") else _fake_pdf_text(p)


def _resolve_text(backend: str):
    if backend == "stub":
        return _fake_pdf_text
    caps = _capabilities()
    if caps["pypdf"]:
        return _try_chain(_pypdf_text, _pure_or_fake_text)
    if caps["pdftotext"]:
        return _try_chain(_poppler_text, _pure_or_fake_text)
    return _try_chain(_pure_or_fake_text, _fake_pdf_text)


def _resolve_ocr(backend: str):
    if backend != "stub" and _capabilities()["tesseract"]:
        # OCR failure/timeout degrades to '' (document stays "scanned,
        # unextracted" — a real pipeline logs and retries it), never to a
        # task failure.
        return _try_chain(_tesseract_ocr, lambda p: "")
    return _fake_ocr


def _pure_or_fake_pages(p: bytes) -> int:
    return _pure_page_count(p) if p.startswith(b"%PDF") else _fake_page_count(p)


def _resolve_page_count(backend: str):
    if backend == "stub":
        return _fake_page_count
    if _capabilities()["pypdf"]:
        return _try_chain(_pypdf_page_count, _pure_or_fake_pages)
    return _try_chain(_pure_or_fake_pages, _fake_page_count)


def _resolve_tables(backend: str):
    if backend != "stub" and _capabilities()["camelot"]:
        # An unparseable page yields zero tables, not a dead job. (A hung
        # native call inside camelot is not interruptible from a thread —
        # the hard backstop at cluster level is spark.task.reaper, per the
        # module docstring.)
        return _try_chain(_camelot_tables, lambda p, page: [])
    return _fake_tables


def extract_text(binaries: DataFrame, backend: str = "auto") -> DataFrame:
    """X1/X2/P13: extract text; empty direct extraction falls back to OCR
    (the textual-vs-scanned predicate `04_convert_contracts_to_text.py:265-285`:
    whitespace-stripped extracted text of length 0 ⇒ scanned ⇒ OCR).
    backend="auto" resolves the best available tier per executor;
    backend="stub" pins the deterministic fake (oracled queries)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        text_fn = _resolve_text(backend)
        ocr_fn = _resolve_ocr(backend)
        for pdf in it:
            texts, methods = [], []
            for payload in pdf["content"]:
                p = payload if payload is not None else b""
                txt = text_fn(p)
                # P13: empty after whitespace strip -> scanned -> OCR path.
                if not txt.strip():
                    txt = ocr_fn(p)
                    methods.append("ocr")
                else:
                    methods.append("direct")
                texts.append(txt)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "filename": pdf["filename"],
                    "text": texts,
                    "method": methods,
                }
            )

    return binaries.mapInPandas(batches, TEXT_SCHEMA)


def detect_tables(binaries: DataFrame, backend: str = "auto") -> DataFrame:
    """X5, the UDTF shape: one input document row → 0..n output table rows
    (flat-map via mapInPandas multi-row emission), page-parallel in spirit —
    at scale, `posexplode` the page range first so pages of one huge PDF
    spread across tasks (SURVEY §2.9 X2 note)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        count_fn = _resolve_page_count(backend)
        tables_fn = _resolve_tables(backend)
        for pdf in it:
            out: dict[str, list] = {
                "id": [], "filename": [], "page": [],
                "table_no": [], "n_rows": [], "n_cols": [], "accuracy": [],
            }
            for rid, fname, payload in zip(
                pdf["id"], pdf["filename"], pdf["content"]
            ):
                p = payload if payload is not None else b""
                table_no = 0
                for page in range(1, count_fn(p) + 1):
                    for (nr, nc, acc) in tables_fn(p, page):
                        table_no += 1
                        out["id"].append(rid)
                        out["filename"].append(fname)
                        out["page"].append(page)
                        out["table_no"].append(table_no)
                        out["n_rows"].append(nr)
                        out["n_cols"].append(nc)
                        out["accuracy"].append(acc)
            yield pd.DataFrame(out)

    return binaries.mapInPandas(batches, TABLES_SCHEMA)


def detect_tables_udtf(binaries: DataFrame) -> DataFrame:
    """X5 through Spark 4's native Python UDTF surface (`@udtf` + LATERAL
    join) — the same flat-map semantics as `detect_tables`, expressed as
    the official table-function API instead of mapInPandas multi-row
    emission. Arrow-optimized (`useArrow=True`); still per-row eval, so
    the mapInPandas form remains the 100 TB hot path — this variant
    exists because a user of a table-function API (camelot-as-UDTF) gets
    the one-to-many contract with per-row lateral semantics for free,
    composable inside any SQL FROM clause."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=TABLES_SCHEMA, useArrow=True)
    class DetectTablesUDTF:
        def eval(self, id: str, filename: str, content: bytes):  # noqa: A002
            p = content if content is not None else b""
            table_no = 0
            for page in range(1, _fake_page_count(p) + 1):
                for nr, nc, acc in _fake_tables(p, page):
                    table_no += 1
                    yield (id, filename, page, table_no, nr, nc, acc)

    spark = binaries.sparkSession
    spark.udtf.register("detect_tables_udtf_fn", DetectTablesUDTF)
    binaries.createOrReplaceTempView("__detect_tables_udtf_input")
    return spark.sql(
        "SELECT t.* FROM __detect_tables_udtf_input, "
        "LATERAL detect_tables_udtf_fn(id, filename, content) t"
    )


def widen_cells(long_df, key_col: str, n_cols: int):
    """Dynamic-schema table function: long-format cells (key, col_idx, cell)
    → one wide row per key with columns c0..c{n_cols-1}.

    This is the Spark-4 answer to the reference's *inferred* sub-table
    schemas (`09_clean_tables.py:180` — each extracted CSV's column count is
    discovered, not declared): a Python UDTF whose static `analyze()` method
    computes the output schema FROM THE ARGUMENT at plan time, so one
    function serves any width, and downstream operators see real columns.

    The per-key grouping runs in the JVM (`collect_list` with map-side
    partial aggregation), so exactly ONE pre-grouped row per key crosses
    the Python boundary and the UDTF is a stateless per-row widener — the
    per-group flush protocol of a `PARTITION BY key` TABLE argument (one
    terminate/re-init cycle per key) shipped n_cols× the rows and measured
    3.07 s vs 2.22 s for this shape at sf0.1 (NULL keys are dropped either
    way: the partitioned form's terminate() guarded on a non-NULL key).
    useArrow=True measured 4x SLOWER still (10.8 s) — per-group row batches
    defeat Arrow batching.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeResult

    @udtf
    class WidenCells:
        @staticmethod
        def analyze(tbl, n):
            schema = StructType().add("key", LongType())
            for i in range(n.value):
                schema = schema.add(f"c{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, row, n):
            cells = {c["col_idx"]: c["cell"] for c in row["cells"]}
            yield tuple([row["key"]] + [cells.get(i) for i in range(n)])

    spark = long_df.sparkSession
    spark.udtf.register("widen_cells_fn", WidenCells)
    (
        long_df.select(F.col(key_col).alias("key"), "col_idx", "cell")
        .where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.collect_list(F.struct("col_idx", "cell")).alias("cells"))
    ).createOrReplaceTempView("__widen_cells_input")
    return spark.sql(
        "SELECT t.* FROM widen_cells_fn(TABLE(__widen_cells_input),"
        f" {n_cols}) t"
    )
