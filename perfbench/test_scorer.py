"""The ground-truth scorer on a hand-made page.

    python -m pytest perfbench/test_scorer.py -q
"""

from perfbench.pages import check_doc

from engine.extract.core import extract_document

ARTICLE = "Ink bleed complicates transcription. Marginalia preserve lost readings."
PAGE = (
    "<html><head><title>Notes</title></head><body>"
    '<nav><ul><li><a href="/">Home</a></li><li><a href="/a">Archive</a></li></ul></nav>'
    '<article><h2>Notes on print</h2><p>Ink bleed complicates transcription.</p>'
    "<p>Marginalia preserve lost readings.</p></article>"
    '<footer><p>© 2026 <a href="/terms">Terms</a></p></footer></body></html>'
).encode()
EXPECTED = "Notes on print " + ARTICLE


def test_right_extraction_passes():
    rec = extract_document(PAGE)
    assert check_doc("article", EXPECTED, rec["status"], rec["error"], rec["text"]) is None


def test_wrong_extractions_are_flagged():
    with_nav = "Home Archive\n" + EXPECTED
    missing = "Notes on print Ink bleed complicates transcription."
    for text in (with_nav, missing, ""):
        assert check_doc("article", EXPECTED, "ok", None, text) is not None
    assert check_doc("article", EXPECTED, "failed", "not_html", None) is not None


def test_word_order_and_line_breaks_do_not_matter():
    text = "Notes on print\nMarginalia preserve lost readings.\nInk bleed complicates transcription."
    assert check_doc("article", EXPECTED, "ok", None, text) is None


def test_other_kinds():
    assert check_doc("linkfarm", "", "ok", None, "") is None
    assert check_doc("linkfarm", "", "ok", None, "click here now") is not None
    assert check_doc("empty", None, "failed", "empty_input", None) is None
    assert check_doc("empty", None, "ok", None, "") is not None
    assert check_doc("pdf", None, "ok", None, "Synthetic report 1") is None
    assert check_doc("pdf", None, "failed", "internal:x", None) is not None
    assert check_doc("binary", None, "ok", None, "\x05garbage") is None
