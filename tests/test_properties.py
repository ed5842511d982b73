"""Property-based tests (hypothesis) over the engine's pure kernels.

These cover invariants that example-based tests can't sweep: arbitrary cell
values through the xlsx writer/parser, arbitrary JSON shapes through the API
envelope rules, arbitrary centroid geometry through IVF probe selection, and
arbitrary column sets through upsert-SQL generation.  Almost all are
driver-side pure functions; the dedupe properties at the end run small Spark
jobs (the Jaccard threshold boundary, connected components vs union-find).
"""

import io
import json
import math
import zipfile

import numpy as np
import pytest
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from pipeflow_spark.excel import _cell_xml, _col_to_idx, _idx_to_col, parse_xlsx
from pipeflow_spark.operators.similarity import ivf_probes
from pipeflow_spark.rest import rows_from_json
from pipeflow_spark.sinks import upsert_statement

# -- excel: column refs and cell roundtrip -----------------------------------


@given(st.integers(min_value=1, max_value=20_000))
def test_col_ref_roundtrip(i):
    assert _col_to_idx(_idx_to_col(i)) == i


_cell_values = st.one_of(
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.booleans(),
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs", "Cc"),  # XML can't carry control chars
        ),
        max_size=40,
    ),
)


def _xlsx_bytes(rows):
    """Minimal workbook from a grid of python values, via the writer's own
    cell encoder — the pure core of write_excel without a DataFrame."""
    body = io.StringIO()
    body.write(
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
    )
    for r, vals in enumerate(rows, start=1):
        cells = "".join(_cell_xml(f"{_idx_to_col(c + 1)}{r}", v) for c, v in enumerate(vals))
        body.write(f'<row r="{r}">{cells}</row>')
    body.write("</sheetData></worksheet>")
    wb = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", body.getvalue())
    return buf.getvalue()


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(_cell_values, min_size=1, max_size=5), min_size=1, max_size=5))
def test_xlsx_cell_roundtrip(grid):
    """Every scalar written by _cell_xml parses back to an equal value
    (ints as int, non-integral floats as float, bools, text) — per the
    reference's typed-cell contract (ExcelReader.cs:131-163)."""
    width = max(len(r) for r in grid)
    padded = [list(r) + [None] * (width - len(r)) for r in grid]
    _, rows = parse_xlsx(_xlsx_bytes(padded), headers=False)
    it = iter(rows)
    for orig in padded:
        if all(v is None for v in orig):
            continue  # rows with no cells are skipped by contract
        got = next(it)
        for c, v in enumerate(orig):
            g = got.get(f"Column{c + 1}")
            if v is None:
                assert g is None  # absent cells → null
            elif isinstance(v, bool):
                assert g is v
            elif isinstance(v, float):
                # integral floats are canonicalized to int (reference rule)
                if v == int(v) and abs(v) < 2**62:
                    assert g == int(v) and isinstance(g, int)
                else:
                    assert isinstance(g, float) and math.isclose(g, v, rel_tol=0, abs_tol=0)
            elif isinstance(v, int):
                assert g == v
            else:
                assert g == v


# -- rest: envelope rules -----------------------------------------------------


_json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(), st.floats(allow_nan=False), st.text(max_size=10)
)
_json_values = st.recursive(
    _json_scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=3), st.dictionaries(st.text(max_size=5), inner, max_size=3)
    ),
    max_leaves=8,
)
_json_objects = st.dictionaries(st.text(max_size=8), _json_values, max_size=4)


@settings(max_examples=80, deadline=None)
@given(st.lists(_json_objects, max_size=5))
def test_rows_from_json_envelope_equivalence(objs):
    """Root array, {"data": [...]}, {"results": [...]}, {"items": [...]}
    all yield identical rows (ApiReader.cs:142-195), every value is a
    scalar-or-JSON-text (never a nested list/dict), and nested values
    roundtrip through json.loads."""
    base = rows_from_json(objs)
    assert base == rows_from_json({"data": objs})
    assert base == rows_from_json({"results": objs})
    assert base == rows_from_json({"items": objs})
    for row, orig in zip(base, objs):
        for k, v in row.items():
            assert not isinstance(v, (list, dict))
            if isinstance(orig[k], (list, dict)):
                assert json.loads(v) == orig[k]
            else:
                assert v == orig[k]


# -- similarity: IVF probe selection ------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=0, max_value=10_000),
)
def test_ivf_probes_properties(n_lists, seed):
    rng = np.random.default_rng(seed)
    C = rng.standard_normal((n_lists, 8))
    q = rng.standard_normal(8).tolist()
    full = ivf_probes(C, q, nprobe=n_lists)
    assert sorted(full) == list(range(1, n_lists + 1))  # full probe = permutation
    for nprobe in range(1, n_lists):
        assert ivf_probes(C, q, nprobe) == full[:nprobe]  # prefix-stable


# -- sinks: upsert SQL generation ---------------------------------------------


_ident = st.text(alphabet="abcdefghij_", min_size=1, max_size=6)


@settings(max_examples=60, deadline=None)
@given(st.lists(_ident, min_size=2, max_size=6, unique=True), st.data())
def test_upsert_statement_updates_exactly_non_keys(cols, data):
    keys = data.draw(st.lists(st.sampled_from(cols), min_size=1, max_size=len(cols) - 1, unique=True))
    non_keys = [c for c in cols if c not in keys]
    stmt = upsert_statement("tgt", "stg", cols, keys, dialect="postgresql")
    set_clause = stmt.split("DO UPDATE SET ", 1)[1].rstrip(";")
    assignments = set(set_clause.split(", "))
    assert assignments == {f"{c} = EXCLUDED.{c}" for c in non_keys}


# -- CEP pattern automaton ≡ regex ---------------------------------------------


from pipeflow_spark.operators.cep_pattern import (  # noqa: E402
    pattern_regex,
    pattern_step,
    validate_pattern,
)

_CEP_ALPHA = "vcpsex"


@st.composite
def _cep_case(draw):
    n = draw(st.integers(min_value=2, max_value=4))
    syms = draw(st.permutations(list(_CEP_ALPHA)))[:n]
    steps = [(s, draw(st.booleans())) for s in syms]
    steps[-1] = (steps[-1][0], False)  # validate_pattern forbids trailing '+'
    seq = draw(st.text(alphabet=_CEP_ALPHA, max_size=60))
    return validate_pattern(steps), seq


@settings(max_examples=300, deadline=None)
@given(_cep_case())
def test_cep_automaton_equals_regex(case):
    """The single-int-state automaton emits exactly the non-overlapping
    leftmost matches of the equivalent regex (positions AND count) — the
    guarantee that makes the streaming twin ≡ the SQL-oracled batch twin."""
    import re

    steps, seq = case
    rx = pattern_regex(steps)
    expected_ends = [m.end() - 1 for m in re.finditer(rx, seq)]
    _, ends = pattern_step(0, list(seq), steps)
    assert ends == expected_ends


@settings(max_examples=200, deadline=None)
@given(_cep_case(), st.data())
def test_cep_automaton_chunk_invariant(case, data):
    """Threading state across arbitrary chunk boundaries finds the same
    matches as one pass — the micro-batch-spanning correctness property."""
    steps, seq = case
    cuts = sorted(
        data.draw(st.lists(st.integers(0, len(seq)), max_size=4)) + [0, len(seq)]
    )
    _, whole = pattern_step(0, list(seq), steps)
    at, found = 0, 0
    for lo, hi in zip(cuts, cuts[1:]):
        at, ends = pattern_step(at, list(seq[lo:hi]), steps)
        found += len(ends)
    assert found == len(whole)


# -- streaming quota machine ≡ batch running sum, any arrival interleaving ----


class _FakeState:
    """Minimal applyInPandasWithState GroupState double for kernel-level
    property tests: tuple state, watermark injected per invocation."""

    def __init__(self):
        self._v, self.exists, self.hasTimedOut = None, False, False
        self._wm_ms = 0

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = v, True

    def remove(self):
        self._v, self.exists = None, False

    def getCurrentWatermarkMs(self):
        return self._wm_ms

    def setTimeoutTimestamp(self, ms):
        pass


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 50)),  # (ts_sec, weight)
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    st.data(),
)
def test_quota_kernel_arrival_order_invariant(rows, data):
    """The budget machine's kept set must equal the batch running-sum twin
    for EVERY arrival interleaving and batch slicing, as long as each row
    arrives before the watermark passes it — the micro-batch-spanning
    correctness property of the watermark-buffered flush."""
    import pandas as pd

    from pipeflow_spark.operators.quota import quota_stream_fn

    quota = data.draw(st.integers(10, 300))
    # arrival order: any permutation, sliced into micro-batches
    arrival = data.draw(st.permutations(rows))
    n_cuts = data.draw(st.integers(0, 4))
    cuts = sorted(data.draw(st.lists(st.integers(0, len(arrival)), min_size=n_cuts, max_size=n_cuts)) + [0, len(arrival)])

    # Spark semantics emulated faithfully: batch k's watermark is derived
    # from batches < k (max event time − delay), the EventTimeWatermark
    # filter DROPS rows at-or-below it before the stateful op, and the
    # kernel's getCurrentWatermarkMs() returns that same batch-k watermark.
    fn = quota_stream_fn(quota)
    state = _FakeState()
    got, delivered, seen_max_ms, wm_ms = {}, [], None, 0
    for lo, hi in zip(cuts, cuts[1:]):
        wm_ms = 0 if seen_max_ms is None else max(0, seen_max_ms - 5_000)
        chunk = [(t, w) for t, w in arrival[lo:hi] if t * 1000 > wm_ms]
        delivered.extend(chunk)
        state._wm_ms = wm_ms
        pdf = pd.DataFrame(
            {
                "id": [t for t, _ in chunk],
                "ts_us": [t * 1_000_000 for t, _ in chunk],
                "w": [w for _, w in chunk],
            }
        )
        for out in fn(("k",), [pdf], state):
            for r in out.itertuples():
                got[r.id] = (r.w, r.cum, r.kept)
        arrived = [t for t, _ in arrival[lo:hi]]
        if arrived:
            m = max(arrived) * 1000
            seen_max_ms = m if seen_max_ms is None else max(seen_max_ms, m)
    # final flush: watermark beyond everything (the sentinel's job)
    state._wm_ms = 10**12
    state.hasTimedOut = True
    for out in fn(("k",), [], state):
        for r in out.itertuples():
            got[r.id] = (r.w, r.cum, r.kept)

    # batch twin over the DELIVERED rows (watermark-dropped late rows are
    # outside the stream≡batch contract by definition), judged in ts order
    cum, expected = 0, {}
    for ts, w in sorted(delivered):
        cum += w
        expected[ts] = (w, cum, cum <= quota)
    assert got == expected


# -- avro: binary codec round-trip invariants ---------------------------------
# The OCF codec is a hand-written binary encoder/decoder (avro_py.py);
# example tests pin known values, these sweep the value space: every zigzag
# int64, NaN/Inf doubles, full-precision decimals, arbitrary unicode/bytes,
# nesting, and arbitrary split cut points (ownership partition exactness).

import datetime as _dtm
import decimal as _dec
import os as _os
import tempfile as _tf

from pipeflow_spark import avro_py
from pipeflow_spark.avro_py import (
    _Cursor,
    _build_decoder,
    _build_encoder,
    _zigzag_bytes,
    _EPOCH_DATE,
    _EPOCH_UTC,
    _HIPREC,
    _MICRO,
)


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_zigzag_varint_roundtrip_full_int64(n):
    assert _Cursor(_zigzag_bytes(n)).long() == n


_AVSC_PROP = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "l", "type": "long"},
        {"name": "d", "type": ["null", "double"]},
        {"name": "s", "type": ["null", "string"]},
        {"name": "b", "type": "bytes"},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": ["null", "string"]}},
        {
            "name": "rec",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "inner",
                    "fields": [
                        {"name": "x", "type": "double"},
                        {
                            "name": "ts",
                            "type": {"type": "long", "logicalType": "timestamp-micros"},
                        },
                    ],
                },
            ],
        },
        {
            "name": "dec",
            "type": {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": 38,
                "scale": 6,
            },
        },
        {"name": "day", "type": {"type": "int", "logicalType": "date"}},
    ],
}

_TS_MIN = -62135596800 * 10**6  # year 1
_TS_MAX = 253402300799 * 10**6  # year 9999


def _ts(us):
    return _EPOCH_UTC + _MICRO * us


_ROW = st.fixed_dictionaries(
    {
        "l": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "d": st.none() | st.floats(allow_nan=True, allow_infinity=True),
        "s": st.none() | st.text(max_size=40),
        "b": st.binary(max_size=40),
        "arr": st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=8),
        "m": st.dictionaries(st.text(max_size=8), st.none() | st.text(max_size=8), max_size=5),
        "rec": st.none()
        | st.fixed_dictionaries(
            {
                "x": st.floats(allow_nan=False, allow_infinity=False),
                "ts": st.integers(min_value=_TS_MIN, max_value=_TS_MAX).map(_ts),
            }
        ),
        "dec": st.integers(min_value=-(10**38 - 1), max_value=10**38 - 1).map(
            lambda u: _dec.Decimal(u).scaleb(-6, _HIPREC)
        ),
        "day": st.integers(min_value=-700000, max_value=2900000).map(
            lambda n: _EPOCH_DATE + _dtm.timedelta(days=n)
        ),
    }
)


def _vals_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_vals_eq(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_vals_eq(x, y) for x, y in zip(a, b))
    return a == b


@settings(max_examples=40, deadline=None)
@given(st.lists(_ROW, min_size=1, max_size=6), st.sampled_from(["null", "deflate"]))
def test_avro_codec_roundtrip_property(rows, codec):
    enc = _build_encoder(_AVSC_PROP)
    dec = _build_decoder(_AVSC_PROP)
    body = bytearray()
    for r in rows:
        enc(r, body)
    data = avro_py._decompress(avro_py._compress(bytes(body), codec), codec)
    c = _Cursor(data)
    back = [dec(c) for _ in rows]
    assert c.at_end()
    for orig, got in zip(rows, back):
        assert _vals_eq(orig, got), (orig, got)


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=50),  # rows per block
    st.lists(st.integers(min_value=1, max_value=10_000), min_size=0, max_size=6),
)
def test_avro_split_ownership_partitions_exactly(rows_per_block, raw_cuts):
    """ANY monotone set of cut points over the file partitions the row set
    exactly — no row lost, no row decoded twice (the invariant the split
    read plan relies on)."""
    n = 400
    avsc = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "long"}],
    }
    enc = _build_encoder(avsc)
    sync = b"\x7e" * 16
    with _tf.TemporaryDirectory() as d:
        path = _os.path.join(d, "t.avro")
        with open(path, "wb") as out:
            avro_py._write_header(out, avsc, "null", sync)
            for lo in range(0, n, rows_per_block):
                chunk = [{"id": i} for i in range(lo, min(lo + rows_per_block, n))]
                avro_py._flush_block(out, chunk, enc, "null", sync)
        size = _os.path.getsize(path)
        cuts = sorted({min(c, size) for c in raw_cuts} | {0, size})
        got = []
        for s, e in zip(cuts, cuts[1:]):
            got.extend(r["id"] for r in avro_py._decode_ranged(path, s, e))
        assert sorted(got) == list(range(n))


# -- dedupe: Jaccard threshold boundary, connected components (Spark jobs) ---

from pipeflow_spark.operators import dedupe  # noqa: E402


@settings(max_examples=3, deadline=None)
@example(shared=2, union=3)  # 2/3 = 0.66666666…: rounds UP at 6 dp
@given(shared=st.integers(min_value=1, max_value=199), union=st.integers(min_value=2, max_value=200))
def test_verify_jaccard_filters_raw_ratio(spark, shared, union):
    """A pair is kept at threshold == its exact Jaccard and dropped one ulp
    above it: the oracles compare the raw ratio, so the 6-dp rounding shapes
    only the output column, never the filter."""
    assume(shared < union)
    ratio = shared / union
    grams = spark.createDataFrame(
        [(1, list(range(union))), (2, list(range(shared)))], "id bigint, grams array<bigint>"
    )
    cand = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    kept = dedupe._verify_jaccard(cand, grams, ratio).collect()
    assert len(kept) == 1 and math.isclose(kept[0].jaccard, ratio, abs_tol=5e-7)
    assert dedupe._verify_jaccard(cand, grams, math.nextafter(ratio, 1.0)).count() == 0


def _union_find_min(edges):
    """node → smallest node of its component (roots are always the min)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


@pytest.mark.parametrize("max_iter", [25, 0])  # 0 forces the star fallback
@settings(max_examples=4, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)),
        min_size=1,
        max_size=10,
    )
)
def test_connected_components_equals_union_find(spark, max_iter, edges):
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {
        r.node: r.component
        for r in dedupe.connected_components(pairs, max_iter=max_iter).collect()
    }
    assert got == _union_find_min(edges)
