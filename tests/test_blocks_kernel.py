"""Segmentation / chunking / CSV kernel tests incl. hypothesis properties.

Targets the edge semantics of SURVEY.md §2.3 (a)-(g) and the CSV quirks of
src/main.ts:39-56.
"""

import json
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_to_text_spark.kernels.blocks import (
    _js_parse_float,
    _js_parse_int,
    _to_fixed_2,
    doc_artifacts,
    parse_records,
    records_to_csv,
    records_to_pretty_json,
    segment_blocks,
)

# ── segmentation (a)-(g) ─────────────────────────────────────────────────────

END = "* Total importe en la sucursal: 12.50"


def test_a_prefix_match_not_word_boundary():
    assert segment_blocks("sucursales abc\n" + END) == ["sucursales abc\n" + END]
    assert segment_blocks("SUCURSAL X\n" + END) == ["SUCURSAL X\n" + END]
    assert segment_blocks(" sucursal leading-space\n" + END) == []  # prefix, not contains


def test_b_new_start_flushes_unterminated():
    text = "Sucursal A\nline1\nSucursal B\n" + END
    assert segment_blocks(text) == ["Sucursal A\nline1", "Sucursal B\n" + END]


def test_c_end_line_included():
    blocks = segment_blocks("Sucursal A\n" + END)
    assert blocks == ["Sucursal A\n" + END]


def test_d_end_requires_number():
    text = "Sucursal A\n* Total importe en la sucursal: \nmore\n" + END
    assert segment_blocks(text) == ["Sucursal A\n* Total importe en la sucursal: \nmore\n" + END]
    # integer (no decimals) also terminates
    t2 = "Sucursal A\n* Total importe en la sucursal: 7"
    assert segment_blocks(t2) == [t2]


def test_e_preamble_dropped():
    assert segment_blocks("preamble\nmore preamble\nSucursal A\n" + END) == [
        "Sucursal A\n" + END
    ]


def test_f_trailing_unterminated_kept():
    assert segment_blocks("Sucursal A\nno end here") == ["Sucursal A\nno end here"]


def test_g_empty():
    assert segment_blocks("") == []


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.just("Sucursal X"),
            st.just(END),
            st.text(
                alphabet=st.characters(blacklist_characters="\n", blacklist_categories=("Cs",)),
                max_size=20,
            ),
        ),
        max_size=40,
    )
)
def test_segmentation_invariants(lines):
    blocks = segment_blocks("\n".join(lines))
    joined = []
    for b in blocks:
        assert b.lower().startswith("sucursal")
        # a terminator may only appear as the last line of a block
        for inner in b.split("\n")[:-1]:
            assert not re.search(
                r"\* total importe en la sucursal:\s*\d+(\.\d+)?", inner, re.IGNORECASE
            )
        joined.extend(b.split("\n"))
    # every block line exists in the input, in order (subsequence)
    it = iter(lines)
    assert all(any(line == cand for cand in it) for line in joined)


# ── chunking (src/main.ts:116-124,166, size boundaries) ─────────────────────


def _doc_with_blocks(sales_per_block: list[int]) -> str:
    """A document of len(sales_per_block) terminated Sucursal blocks, block
    i holding sales_per_block[i] sale lines."""
    lines = ["preamble"]
    for i, n in enumerate(sales_per_block):
        lines.append(f"Sucursal {i:03d}")
        lines += [f"  EAN {i}{j} cantidad {j} importe {j}.50" for j in range(n)]
        lines.append(END)
    return "\n".join(lines)


def test_chunk_boundaries():
    for n, want in [(0, []), (1, [1]), (9, [9]), (10, [10]), (11, [10, 1]), (25, [10, 10, 5])]:
        records, _, _, _ = doc_artifacts(_doc_with_blocks([1] * n))
        sizes: dict[int, int] = {}
        for r in records:
            sizes[r["chunk_id"]] = sizes.get(r["chunk_id"], 0) + 1
        assert [sizes[c] for c in sorted(sizes)] == want
        assert [r["block_pos"] for r in records] == list(range(n))  # order preserved


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=3), max_size=40))
def test_chunk_property(sales_per_block):
    text = _doc_with_blocks(sales_per_block)
    records, csv, _, blocks = doc_artifacts(text)
    # blocks: segment_blocks in order, tagged with the same chunk rule
    assert [b for _, b, _ in blocks] == segment_blocks(text)
    assert [(p, c) for p, _, c in blocks] == [(p, p // 10) for p in range(len(sales_per_block))]
    assert [(r["block_pos"], r["record_pos"]) for r in records] == [
        (b, j) for b, n in enumerate(sales_per_block) for j in range(n)
    ]
    assert all(r["chunk_id"] == r["block_pos"] // 10 for r in records)
    assert all(r["SucursalName"] == f"Sucursal {r['block_pos']:03d}" for r in records)
    assert len(csv.split("\n")) == 1 + max(len(records), 1)


# ── record parsing + CSV quirks ──────────────────────────────────────────────


def test_parse_records():
    block = (
        "Sucursal 001 - Centro 1\n"
        "  EAN 7790000000131 cantidad 8 importe 82.40\n"
        "  EAN 7790000000132 cantidad 9 importe 93.60\n"
        "* Total importe en la sucursal: 176.00"
    )
    recs = parse_records(block)
    assert len(recs) == 2
    assert recs[0] == {
        "SucursalName": "Sucursal 001 - Centro 1",
        "EAN": "7790000000131",
        "CantidadVendida": "8",
        "Importe": "82.40",
    }


def test_csv_header_and_coercions():
    recs = [
        {"SucursalName": "A", "EAN": "123", "CantidadVendida": "7", "Importe": "49.9"},
        {"SucursalName": "B", "EAN": "456", "CantidadVendida": "xx", "Importe": "junk"},
        {"SucursalName": "C", "EAN": "789", "CantidadVendida": "3.9", "Importe": "1.005"},
    ]
    csv = records_to_csv(recs)
    lines = csv.split("\n")
    assert lines[0] == "SucursalName,EAN,CantidadVendida,Importe"
    assert lines[1] == '"A","123",7,49.90'
    assert lines[2] == '"B","456",0,0.00'  # ||0 fallbacks
    # r2 contract change (ADVICE r1): toFixed is pinned to HALF_UP on the
    # shortest-repr decimal digits — bit-identical to the JVM path's Java
    # format_string('%.2f') ("1.005" → 1.01), deviating from exact-binary
    # JS toFixed only at repr-boundary inputs (documented out-of-contract)
    assert lines[3] == '"C","789",3,1.01'  # parseInt truncates
    assert not csv.endswith("\n")  # no trailing newline (src/main.ts:55)


def test_csv_quotes_not_escaped():
    recs = [{"SucursalName": 'He said "hi"', "EAN": "1", "CantidadVendida": "1", "Importe": "1"}]
    assert '"He said "hi""' in records_to_csv(recs)  # reference quirk: NO escaping


def test_to_fixed_half_away_from_zero():
    recs = [{"SucursalName": "x", "EAN": "1", "CantidadVendida": "1", "Importe": "2.675"}]
    # pinned: HALF_UP on the shortest-repr digits ("2.675" → 2.68),
    # matching Java format_string('%.2f') exactly (probed: 2.68)
    assert records_to_csv(recs).split("\n")[1].endswith("2.68")


def test_js_infinity_literals():
    """parseFloat('Infinity')||0 → Infinity; toFixed renders 'Infinity'
    (ADVICE r1) — and ties at .xx5 round half-up sign-separated (±1.125
    → ±1.13, same as Java '%.2f')."""
    from pdf_to_text_spark.kernels.blocks import _js_parse_float, _to_fixed_2

    assert _js_parse_float("Infinity") == float("inf")
    assert _js_parse_float("-Infinity") == float("-inf")
    assert _js_parse_float("+Infinity rest") == float("inf")
    assert _js_parse_float("Infinit") == 0.0
    assert _to_fixed_2(float("inf")) == "Infinity"
    assert _to_fixed_2(float("-inf")) == "-Infinity"
    assert _to_fixed_2(float("nan")) == "NaN"
    assert _to_fixed_2(1.125) == "1.13" and _to_fixed_2(-1.125) == "-1.13"
    recs = [{"SucursalName": "x", "EAN": "1", "CantidadVendida": "2", "Importe": "Infinity"}]
    assert records_to_csv(recs).split("\n")[1] == '"x","1",2,Infinity'


# JS values: what parseInt(v, 10) || 0, parseFloat(v) || 0 and
# Number.prototype.toFixed(2) give for v (src/main.ts:44-45)


@pytest.mark.parametrize(
    "v,want",
    [
        ("42", 42),
        (" \n12\t", 12),      # leading/trailing whitespace trimmed
        ("42abc", 42),        # longest leading integer prefix
        ("3.9", 3),           # truncates at the point
        ("1e3", 1),           # no exponent
        ("+7", 7),
        ("-7", -7),
        ("007", 7),
        ("-0", 0),            # -0 || 0 → 0
        ("0x1A", 0),          # radix 10: the x ends the prefix
        ("+-1", 0),           # NaN || 0
        ("- 1", 0),
        ("\u0663", 0),        # ASCII digits only
        ("", 0),
        (None, 0),            # a missing field
    ],
)
def test_js_parse_int_matches_js(v, want):
    assert _js_parse_int(v) == want


@pytest.mark.parametrize(
    "v,want",
    [
        ("3.14abc", 3.14),
        (" \t7.25 ", 7.25),
        (".5", 0.5),
        ("5.", 5.0),
        ("-.5e1", -5.0),
        ("1E-2", 0.01),
        ("1e", 1.0),          # a bare exponent marker ends the prefix
        ("1e+", 1.0),
        ("1.2.3", 1.2),
        ("1,5", 1.0),
        ("0x10", 0.0),
        ("+.e1", 0.0),        # NaN || 0
        ("..5", 0.0),
        ("infinity", 0.0),    # the literal is case-sensitive
        ("-Infinityx", float("-inf")),
        ("\u0663.5", 0.0),    # ASCII digits only
        ("-0", 0.0),
    ],
)
def test_js_parse_float_matches_js(v, want):
    got = _js_parse_float(v)
    assert got == want and str(got) == str(want)  # -0 must not survive ||0


@pytest.mark.parametrize(
    "f,want",
    [
        (0.0, "0.00"),
        (-0.0, "0.00"),                 # -0 < 0 is false: no sign
        (-1e-10, "-0.00"),              # sign kept when the digits round away
        (0.125, "0.13"),                # exact binary tie → the larger n
        (123456.789, "123456.79"),
        (1e20, "100000000000000000000.00"),
    ],
)
def test_to_fixed_2_matches_js(f, want):
    assert _to_fixed_2(f) == want


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "SucursalName": st.text(max_size=10),
                "EAN": st.text(max_size=8),
                "CantidadVendida": st.text(max_size=6),
                "Importe": st.text(max_size=6),
            }
        ),
        max_size=20,
    )
)
def test_csv_row_count_property(recs):
    csv = records_to_csv(recs)
    # row count == record count + header; string fields pass through verbatim
    # (reference does no escaping) so embedded newlines add extra lines
    n_newlines_in_data = sum(
        r["SucursalName"].count("\n") + r["EAN"].count("\n") for r in recs
    )
    # zero records: reference yields 'HEADER\n' + '' (one trailing empty line)
    expected = 2 if not recs else 1 + len(recs) + n_newlines_in_data
    assert len(csv.split("\n")) == expected


def test_pretty_json_matches_js_stringify():
    recs = [{"SucursalName": "A", "EAN": "1", "CantidadVendida": 2, "Importe": 3.5}]
    out = records_to_pretty_json(recs)
    assert out == json.dumps(recs, indent=2, ensure_ascii=False, separators=(",", ": "))
    assert out.startswith("[\n  {\n    ")


def test_csv_null_field_renders_empty_not_none():
    """r6 review: a present-but-null field must render "" like a missing
    key, not the Python repr 'None' (r.get's default only covers ABSENT
    keys)."""
    from pdf_to_text_spark.kernels.blocks import records_to_csv

    csv = records_to_csv(
        [{"SucursalName": None, "EAN": "E1", "CantidadVendida": "1", "Importe": "2"}]
    )
    assert csv.splitlines()[1] == '"","E1",1,2.00'


def test_doc_artifacts_tags_records_and_serializes_once():
    """doc_artifacts: records carry (chunk_id, block_pos, record_pos) in
    document order; csv/json serialize the untagged records; a document
    without records (or without text) gets the header-only CSV and '[]'."""
    from pdf_to_text_spark.kernels.blocks import doc_artifacts

    text = "\n".join(
        f"Sucursal {i}\nEAN {i} cantidad {i} importe 1\nEAN 0 cantidad 0 importe 0"
        for i in range(12)
    )
    recs, csv, js, _ = doc_artifacts(text)
    plain = [r for b in segment_blocks(text) for r in parse_records(b)]
    assert [(r["chunk_id"], r["block_pos"], r["record_pos"]) for r in recs] == [
        (b // 10, b, p) for b in range(12) for p in range(2)
    ]
    assert [{k: r[k] for k in plain[0]} for r in recs] == plain
    assert csv == records_to_csv(plain) and js == records_to_pretty_json(plain)
    for empty in (None, "", "no sucursal here"):
        assert doc_artifacts(empty) == ([], records_to_csv([]), "[]", [])
