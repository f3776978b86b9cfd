"""Property-based framing equivalence (hypothesis): for ARBITRARY byte
strings and max_length values, both implementations agree:

  oracle.frame_bytes  (single-threaded reference semantics)
  extract._frame_doc  (the C-call kernel used in the pipeline)

No Spark session needed — these are the pure kernels.
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from scones.extract import _frame_doc
from scones.oracle import extract_text, frame_bytes

# bytes heavy in newline/CR to stress the framing edge cases
nl_heavy = st.binary(max_size=400).map(
    lambda b: b.replace(b"a", b"\n").replace(b"b", b"\r")
)
any_bytes = st.one_of(st.binary(max_size=400), nl_heavy)


@given(data=any_bytes, max_length=st.sampled_from([0, 1, 2, 5, 100]))
@settings(max_examples=300, deadline=None)
def test_frame_doc_matches_oracle(data, max_length):
    text, n_lines, bytes_read, n_skipped = _frame_doc(data, max_length)
    f = frame_bytes(data, max_length)
    assert text == b"\n".join(f.lines)
    assert n_lines == len(f.lines)
    assert bytes_read == f.position
    assert n_skipped == f.skipped


@given(data=any_bytes)
@settings(max_examples=200, deadline=None)
def test_framing_invariants(data):
    """Structural invariants independent of any implementation."""
    f = frame_bytes(data, 0)
    # position never exceeds input length and lands after a newline
    assert 0 <= f.position <= len(data)
    if f.position:
        assert data[f.position - 1 : f.position] == b"\n"
    # emitted lines never contain newline bytes or trailing CR
    for line in f.lines:
        assert b"\n" not in line
        assert not line.endswith(b"\r")
    # re-framing the extracted text is a fixpoint (idempotence)
    text = extract_text(data)
    refr = frame_bytes(text + b"\n" if text or f.lines else b"", 0)
    assert refr.lines == f.lines


CR_CASES = {
    "cr_cr_lf": b"one\r\r\ntwo\n",
    "crlf_crlf": b"one\r\n\r\ntwo\r\n",
    "three_crs_mid_doc": b"one\ntwo\r\r\r\nthree\n",
    "trailing_cr": b"one\ntwo\r",
    "lone_cr_no_newline": b"one\rtwo",
    "empty": b"",
    # more CRs in a run than bytes.replace passes: the per-line fallback
    "long_cr_run": b"a\r\nb" + b"\r" * 50 + b"\nc\r\r\n" + b"\r" * 3 + b"d\r\n",
}


@pytest.mark.parametrize("max_length", [0, 3, 100])
@pytest.mark.parametrize("name", list(CR_CASES))
def test_cr_runs_match_oracle(name, max_length):
    data = CR_CASES[name]
    text, n_lines, bytes_read, n_skipped = _frame_doc(data, max_length)
    f = frame_bytes(data, max_length)
    assert text == b"\n".join(f.lines)
    assert (n_lines, bytes_read, n_skipped) == (len(f.lines), f.position, f.skipped)
