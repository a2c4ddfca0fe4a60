"""End-to-end crash fuzzing of extract_document: arbitrary garbage in
every span kind must produce a DocResult, never raise (poison isolation
happens at the UDF layer, but the core should almost never need it)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from claude_readability_hook_spark.core.extractor import extract_document

_garbage = st.text(max_size=300)
_kind = st.sampled_from(["html", "text", "code", "media", "so_json", "reddit_json", "pdf", "???"])


@st.composite
def raw_spans(draw):
    n = draw(st.integers(1, 5))
    return [
        {
            "kind": draw(_kind),
            "text": draw(_garbage),
            "media_ref": draw(st.sampled_from(["", "x:1", "__CODEBLOCK_0__"])),
            "offset": i,
        }
        for i in range(n)
    ]


@settings(max_examples=200, deadline=None)
@given(raw_spans())
def test_garbage_never_raises(spans):
    result = extract_document("fuzz", spans)
    assert result.doc_id == "fuzz"
    assert isinstance(result.success, bool)
    for s in result.spans:
        assert set(s) == {"kind", "text", "media_ref", "offset"}
    assert [s["offset"] for s in result.spans] == list(range(len(result.spans)))


def test_arrow_batch_slicing_bounds_python_materialization(spark, monkeypatch):
    """A batch whose Arrow buffers exceed MAX_SLICE_BYTES must be
    processed in byte-bounded slices — same results, bounded memory."""
    from claude_readability_hook_spark.operators import extract
    from claude_readability_hook_spark.sources.corpus import fixtures_df

    src = fixtures_df(spark).coalesce(1)
    whole = {r["doc_id"]: (r["engine"], r["success"], len(r["spans"]))
             for r in extract.extract_spans(src).collect()}
    monkeypatch.setattr(extract, "MAX_SLICE_BYTES", 2048)  # force slicing
    sliced = {r["doc_id"]: (r["engine"], r["success"], len(r["spans"]))
              for r in extract.extract_spans(src).collect()}
    assert sliced == whole and len(sliced) == src.count()
