"""The fused round extractor (``extract_round_batch``): one pandas batch in,
exactly the rows the separate link and record extractors yield out, under
the Arrow output schema — no Spark session."""

import re

import pandas as pd
import pyarrow as pa

from crawler_spark.operators.extract import (
    ROUND_OUT_COLS,
    ROUND_OUT_SCHEMA,
    ConnectorConfig,
    extract_links_batch_for,
    extract_records_batch_for,
    extract_round_batch,
)

SEARCH = (
    '<html><body><span id="count">2</span><ul class="results">'
    '<li><a href="/record/1">one</a></li><li><a href="/record/2">two</a></li>'
    "</ul></body></html>"
)
EMPTY_SEARCH = '<html><body><ul class="results"></ul></body></html>'
DETAIL = (
    '<html><body><h1 class="title">Rec</h1><table class="fields">'
    '<tr class="field"><td class="label">Inventory</td>'
    '<td class="value">INV-9</td></tr></table>'
    '<div class="images"><img src="/i/1.jpg" title="Front"></div>'
    '<div class="related"><a href="/record/7">rel</a></div>'
    "</body></html>"
)

CONNECTORS = {
    "plain": ConnectorConfig(connector_id="plain"),
    "by_label": ConnectorConfig(
        connector_id="by_label", record_id_label="Inventory"
    ),
}

BATCH = pd.DataFrame(
    [
        ("http://a.test/search?page=1", SEARCH, "plain", "search"),
        ("http://a.test/record/1", DETAIL, "plain", "record"),
        ("http://a.test/search?page=2", EMPTY_SEARCH, "plain", "search"),
        ("http://b.test/record/3", DETAIL, "by_label", "related"),
        # not in the map: both extractors fall back to SYNTH
        ("http://c.test/record/4", DETAIL, "unmapped", "record"),
    ],
    columns=["url", "body", "connector_id", "kind"],
)


def _arrow_type(ddl: str) -> pa.DataType:
    ddl = ddl.strip()
    if ddl.startswith("array<"):
        return pa.list_(_arrow_type(ddl[len("array<"):-1]))
    if ddl.startswith("struct<"):
        return pa.struct(_arrow_fields(ddl[len("struct<"):-1]))
    return {"string": pa.string(), "int": pa.int32(), "boolean": pa.bool_()}[
        ddl
    ]


def _arrow_fields(ddl: str) -> list[pa.Field]:
    # "name type, ..." (top level) or "name:type,..." (inside struct<>);
    # split on top-level commas only (nested <...> keep theirs)
    parts, depth, cur = [], 0, ""
    for ch in ddl:
        depth += {"<": 1, ">": -1}.get(ch, 0)
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    parts.append(cur)
    return [
        pa.field(*_name_type(re.split(r"\s*:\s*|\s+", p.strip(), maxsplit=1)))
        for p in parts
    ]


def _name_type(pair):
    name, typ = pair
    return name, _arrow_type(typ)


ROUND_ARROW = pa.schema(_arrow_fields(ROUND_OUT_SCHEMA))


def _rows(frames, cols):
    """Rows of ``frames`` projected on ``cols``, as Arrow converts them
    under the round schema (NaN and None both become null)."""
    schema = pa.schema([ROUND_ARROW.field(c) for c in cols])
    return [
        row
        for f in frames
        for row in pa.Table.from_pandas(
            f[cols], schema=schema, preserve_index=False
        ).to_pylist()
    ]


def test_fused_rows_equal_separate_extractors():
    links_fn = extract_links_batch_for(CONNECTORS)
    records_fn = extract_records_batch_for(CONNECTORS)
    out = list(extract_round_batch(links_fn, records_fn)(iter([BATCH])))
    # every output frame converts under the declared Spark schema
    for frame in out:
        assert list(frame.columns) == ROUND_OUT_COLS
        pa.Table.from_pandas(frame, schema=ROUND_ARROW, preserve_index=False)
    # record rows always carry a record_id; link rows never do
    links = [f[f["record_id"].isna()] for f in out]
    records = [f[f["record_id"].notna()] for f in out]

    is_search = BATCH["kind"] == "search"
    inputs = ["url", "body", "connector_id"]
    link_cols = ["url", "total_count", "out_url", "out_idx"]
    want_links = _rows(links_fn(iter([BATCH.loc[is_search, inputs]])), link_cols)
    assert _rows(links, link_cols) == want_links
    assert len(want_links) == 3
    # the empty search page keeps its null-out_url pagination row
    assert {
        "url": "http://a.test/search?page=2", "total_count": None,
        "out_url": None, "out_idx": None,
    } in want_links

    rec_cols = ["url", *ROUND_OUT_COLS[4:]]
    want_recs = _rows(records_fn(iter([BATCH.loc[~is_search, inputs]])), rec_cols)
    assert _rows(records, rec_cols) == want_recs
    # record rows leave the link columns null
    assert all(
        f[["total_count", "out_url", "out_idx"]].isna().all().all()
        for f in records
    )
    # record_id_label connector vs the URL-path fallback (SYNTH if unmapped)
    assert [r["record_id"] for r in want_recs] == ["1", "INV-9", "4"]


def test_empty_batch_converts_under_schema():
    fn = extract_round_batch(
        extract_links_batch_for(CONNECTORS),
        extract_records_batch_for(CONNECTORS),
    )
    out = list(fn(iter([BATCH.iloc[:0]])))
    assert len(out) == 1 and out[0].empty
    table = pa.Table.from_pandas(out[0], schema=ROUND_ARROW, preserve_index=False)
    assert table.num_rows == 0 and table.schema.names == ROUND_OUT_COLS
