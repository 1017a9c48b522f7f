"""Unit tests for the decode stage — direct ports of the reference behaviors
cited in SURVEY §2.2 (flatten.go, main.go type-switch/envelope routing)."""

from __future__ import annotations

import time
from datetime import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from klogs_spark.config import EngineConfig
from klogs_spark.decode import (
    FlattenError,
    decode_json_lines,
    dispatch_value,
    extract_timestamp,
    flatten,
    record_to_row,
)

NOW = datetime(2026, 1, 1, 0, 0, 0)


class TestFlatten:
    # flatten.go:56-66 — '_'-joined compound keys, top level unprefixed
    def test_nested_maps(self):
        assert flatten({"a": {"b": {"c": 1}}, "d": 2}) == {"a_b_c": 1, "d": 2}

    # flatten.go:42-46 — array indices as key segments
    def test_arrays(self):
        assert flatten({"tags": ["a", "b"]}) == {"tags_0": "a", "tags_1": "b"}
        assert flatten({"x": [{"y": 1}, 2]}) == {"x_0_y": 1, "x_1": 2}

    # flatten.go:59-63 — top-level slice input allowed, unprefixed indices
    def test_top_level_slice(self):
        assert flatten(["a", "b"]) == {"0": "a", "1": "b"}

    # flatten.go:47-51 — scalar top level errors
    def test_scalar_top_level_errors(self):
        with pytest.raises(FlattenError):
            flatten("scalar")
        with pytest.raises(FlattenError):
            flatten(42)

    def test_empty(self):
        assert flatten({}) == {}
        assert flatten([]) == {}

    def test_keys_with_dots_kept(self):
        # dots survive flatten; normalization is a later, optional step
        assert flatten({"content.level": "info"}) == {"content.level": "info"}

    @given(
        st.recursive(
            st.one_of(st.none(), st.booleans(), st.integers(), st.floats(
                allow_nan=False), st.text(max_size=8)),
            lambda children: st.one_of(
                st.lists(children, max_size=4),
                st.dictionaries(st.text(max_size=6), children, max_size=4),
            ),
            max_leaves=20,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_property_all_leaves_scalar(self, value):
        """Flatten invariant: output values are never containers, and leaf
        count is preserved (SURVEY §5 property test)."""
        if not isinstance(value, (dict, list)):
            return

        def count_leaves(v):
            if isinstance(v, dict):
                return sum(count_leaves(x) for x in v.values())
            if isinstance(v, (list, tuple)):
                return sum(count_leaves(x) for x in v)
            return 1

        flat = flatten(value)
        assert all(not isinstance(v, (dict, list, tuple)) for v in flat.values())
        # duplicate compound keys can collapse (last-writer), so <=
        assert len(flat) <= count_leaves(value)


class TestDispatch:
    # main.go:268-310 — the full type switch
    def test_strings_and_bytes(self):
        assert dispatch_value("x") == ("x", 0.0, False, False)
        assert dispatch_value(b"bin") == ("bin", 0.0, False, False)

    def test_all_numeric_widths_to_float(self):
        for v in (1, -(2**40), 3.5, 0):
            s, n, is_num, is_nil = dispatch_value(v)
            assert is_num and n == float(v) and not is_nil

    def test_nil_dropped(self):
        assert dispatch_value(None) == ("", 0.0, False, True)

    def test_bool_stringifies_go_style(self):
        # Go's %v renders bools "true"/"false" (main.go:308-309)
        assert dispatch_value(True)[0] == "true"
        assert dispatch_value(False)[0] == "false"

    def test_unknown_type_stringified(self):
        class Weird:
            def __str__(self):
                return "weird!"

        assert dispatch_value(Weird())[0] == "weird!"


class TestTimestamp:
    # main.go:85-103
    def test_epoch_float(self):
        ts = extract_timestamp(1755043200.123, NOW)
        assert ts == datetime(2025, 8, 13, 0, 0, 0, 123000)

    def test_epoch_int_and_str(self):
        assert extract_timestamp(1755043200, NOW).year == 2025
        assert extract_timestamp("1755043200", NOW).year == 2025

    def test_fb21_nested_form(self):
        # [[ts, meta], msg] handling (main.go:92-97)
        assert extract_timestamp([1755043200, {"m": 1}], NOW).year == 2025

    def test_garbled_falls_back_to_now(self):
        # main.go:99-102 — warn + now(), never drop
        assert extract_timestamp("not-a-time", NOW) == NOW
        assert extract_timestamp(None, NOW) == NOW
        assert extract_timestamp([], NOW) == NOW


class TestEnvelopeRouting:
    # main.go:313-351
    def test_envelope_and_maps(self):
        row = record_to_row(
            1755043200,
            {
                "cluster": "kind",
                "kubernetes": {
                    "namespace_name": "ns",
                    "pod_name": "p",
                    "container_name": "c",
                    "host": "h",
                },
                "log": "line",
                "lvl": "info",
                "n": 3,
            },
            now=NOW,
        )
        assert row["cluster"] == "kind"
        assert row["namespace"] == "ns"
        assert row["pod_name"] == "p"
        assert row["container_name"] == "c"
        assert row["host"] == "h"
        assert row["log"] == "line"
        assert row["fields_string"] == {"lvl": "info"}
        assert row["fields_number"] == {"n": 3.0}

    def test_app_aliasing_k8s_app_wins(self):
        # main.go:318-321 with deterministic precedence (SURVEY §7)
        both = {"kubernetes": {"labels": {"app": "a", "k8s-app": "k"}}}
        assert record_to_row(0, both, now=NOW)["app"] == "k"
        only_app = {"kubernetes": {"labels": {"app": "a"}}}
        assert record_to_row(0, only_app, now=NOW)["app"] == "a"

    def test_nil_fields_never_stored(self):
        # main.go:312
        row = record_to_row(0, {"x": None, "y": "v"}, now=NOW)
        assert "x" not in row["fields_string"]
        assert "x" not in row["fields_number"]

    def test_force_number_raw_key_quirk(self):
        # membership check uses the RAW key, storage uses the formatted key
        # (main.go:339 vs :331-334)
        cfg = EngineConfig(
            force_number_fields=["content.duration"], force_underscores=True
        )
        row = record_to_row(0, {"content.duration": "12.5"}, cfg, now=NOW)
        assert row["fields_number"] == {"content_duration": 12.5}
        # the formatted key is NOT in the force list -> a record arriving
        # already-underscored stays string
        row2 = record_to_row(0, {"content_duration": "12.5"}, cfg, now=NOW)
        assert row2["fields_string"] == {"content_duration": "12.5"}

    def test_force_number_parse_failure_falls_back(self):
        # main.go:342-345
        cfg = EngineConfig(force_number_fields=["d"])
        row = record_to_row(0, {"d": "not-a-number"}, cfg, now=NOW)
        assert row["fields_string"] == {"d": "not-a-number"}

    def test_force_underscores(self):
        cfg = EngineConfig(force_underscores=True)
        row = record_to_row(0, {"a.b.c": "v"}, cfg, now=NOW)
        assert row["fields_string"] == {"a_b_c": "v"}


class TestDecodeJsonLines:
    def test_skips_bad_lines_keeps_good(self):
        rows = list(
            decode_json_lines(
                [
                    '{"ts": 1, "record": {"log": "ok"}}',
                    "garbage",
                    '{"ts": 2, "record": 7}',
                    "",
                    '{"log": "bare-record"}',
                ],
                now=NOW,
            )
        )
        assert [r["log"] for r in rows] == ["ok", "bare-record"]

    @given(
        st.dictionaries(
            st.text(min_size=1, max_size=6).filter(lambda k: "." not in k),
            st.one_of(st.none(), st.integers(), st.floats(allow_nan=False),
                      st.text(max_size=8), st.booleans()),
            max_size=6,
        )
    )
    @settings(max_examples=100, deadline=None)
    def test_property_string_number_partition_total(self, record):
        """Every non-nil, non-envelope field lands in exactly one map."""
        row = record_to_row(0, record, now=NOW)
        in_string = set(row["fields_string"])
        in_number = set(row["fields_number"])
        assert not (in_string & in_number)
        envelope = {"cluster", "log"}
        expected = {
            k for k, v in record.items() if v is not None and k not in envelope
        }
        assert in_string | in_number == expected


def test_huge_json_integer_does_not_kill_the_batch():
    """A JSON integer literal beyond float64 range must degrade to a string
    field (one record), never raise out of the decode loop (whole batch)."""
    from klogs_spark.decode import decode_json_lines, dispatch_value

    big = "9" * 400
    line = '{"ts": 1700000000, "record": {"n": ' + big + ', "ok": 1}}'
    rows = list(decode_json_lines([line]))
    assert len(rows) == 1
    assert rows[0]["fields_string"]["n"] == big
    assert rows[0]["fields_number"]["ok"] == 1.0
    s, _, is_num, is_nil = dispatch_value(int(big))
    assert (s, is_num, is_nil) == (big, False, False)


def test_pathologically_deep_json_is_dead_lettered(monkeypatch):
    """Without the orjson fast path, stdlib json's parser stack overflows on
    pathological nesting and the line dead-letters instead of killing the
    batch. (With orjson present the same line simply decodes — its parser is
    iterative — which test_deep_json_decodes_on_fast_path covers.)"""
    from klogs_spark import decode as decode_mod
    from klogs_spark.decode import decode_json_lines

    monkeypatch.setattr(decode_mod, "_fastjson", None)
    deep = "[" * 5000 + "]" * 5000
    bad = '{"ts": 1, "record": {"d": ' + deep + "}}"
    good = '{"ts": 2, "record": {"ok": 1}}'
    rejects: list[str] = []
    rows = list(decode_json_lines([bad, good], rejects=rejects))
    assert len(rows) == 1 and rows[0]["fields_number"]["ok"] == 1.0
    assert rejects == [bad]


def test_deep_json_decodes_on_fast_path():
    """With orjson installed, deep-but-valid nesting is not a death
    sentence: the line decodes (to an empty-maps row here — nothing but
    empty arrays inside) and nothing is dead-lettered."""
    import pytest

    from klogs_spark import decode as decode_mod
    from klogs_spark.decode import decode_json_lines

    if decode_mod._fastjson is None:
        pytest.skip("orjson not installed in this environment")
    deep = "[" * 5000 + "]" * 5000
    bad = '{"ts": 1, "record": {"d": ' + deep + "}}"
    good = '{"ts": 2, "record": {"ok": 1}}'
    rejects: list[str] = []
    rows = list(decode_json_lines([bad, good], rejects=rejects))
    assert len(rows) == 2 and rejects == []


def test_nesting_past_the_depth_bound_is_rejected_before_parsing(monkeypatch):
    """Lines nested past MAX_JSON_DEPTH never reach a parser (orjson's
    recursion overflows the C stack there and kills the worker); brackets
    inside strings, after an escaped quote, and wide-but-flat lines do not
    count as depth."""
    from klogs_spark import decode as decode_mod
    from klogs_spark.decode import MAX_JSON_DEPTH, decode_json_lines

    def parse_forbidden(line):
        raise AssertionError("an over-deep line reached the parser")

    def nested(depth: int) -> str:
        return ('{"ts": 1, "record": {"d": ' + "[" * (depth - 2)
                + "]" * (depth - 2) + "}}")

    many = 3 * MAX_JSON_DEPTH
    in_string = '{"ts": 1, "record": {"s": "\\"' + "[" * many + '"}}'
    wide = ('{"ts": 1, "record": {"d": [' + ",".join(["[]"] * many)
            + "]}}")
    rejects: list[str] = []
    rows = list(decode_json_lines(
        [nested(MAX_JSON_DEPTH), in_string, wide], rejects=rejects))
    assert len(rows) == 3 and rejects == []
    assert rows[1]["fields_string"]["s"] == '"' + "[" * many
    # a truncated line whose open string holds 300k escaped quotes: the
    # depth scan must stay linear (one string match, no backtracking)
    truncated = '{"log":"' + '\\"[' * 300_000
    t0 = time.perf_counter()
    assert list(decode_json_lines([truncated], rejects=rejects)) == []
    assert time.perf_counter() - t0 < 5.0
    assert rejects == [truncated]
    rejects.clear()
    if decode_mod._fastjson is not None:
        monkeypatch.setattr(decode_mod._fastjson, "loads", parse_forbidden)
    monkeypatch.setattr(decode_mod.json, "loads", parse_forbidden)
    over = nested(MAX_JSON_DEPTH + 1)
    rows = list(decode_json_lines([over], rejects=rejects))
    assert rows == [] and rejects == [over]


def test_force_number_set_follows_the_config_between_decodes(spark):
    """Every decode call reads ``force_number_fields`` as it is then, and no
    decode leaves state on the caller's config: changing the fields
    between two decodes changes which strings become numbers."""
    from klogs_spark.decode import (
        decode_dataframe,
        decode_msgpack_dataframe,
        decode_msgpack_events,
    )
    from klogs_spark.msgpack_lite import pack

    line = '{"ts": 0, "record": {"a": "1.5", "b": "2.5"}}'
    chunk = pack([0, {"a": "1.5", "b": "2.5"}])
    text = spark.createDataFrame([(line,)], "value string")
    binary = spark.createDataFrame([(chunk,)], "content binary")
    cfg = EngineConfig(force_number_fields=["a"])

    def decodes():
        return [
            next(decode_json_lines([line], cfg, NOW)),
            next(decode_msgpack_events([chunk], cfg, NOW)),
            decode_dataframe(text, cfg).first().asDict(),
            decode_msgpack_dataframe(binary, cfg).first().asDict(),
        ]

    for row in decodes():
        assert row["fields_number"] == {"a": 1.5}
        assert row["fields_string"] == {"b": "2.5"}
    cfg.force_number_fields = ["b"]
    for row in decodes():
        assert row["fields_number"] == {"b": 2.5}
        assert row["fields_string"] == {"a": "1.5"}
    assert vars(cfg) == vars(EngineConfig(force_number_fields=["b"]))
