"""One Options object from config.ini to the planner: every field is
reachable through its config.ini key and accepted by every entry point,
and enumerated values outside their allowed set are rejected."""

from dataclasses import fields

import pytest

from sdm_rdfizer_spark import materialize, materialize_with_targets
from sdm_rdfizer_spark.compiler.plan import MappingPlanner
from sdm_rdfizer_spark.config import Options, load_config
from sdm_rdfizer_spark.streaming import materialize_stream

# config.ini key and value → the non-default Options value it yields
NON_DEFAULT = {
    "remove_duplicates": ("remove_duplicate", "no", False),
    "infer_datatypes": ("infer_datatypes", "yes", True),
    "input_dedup": ("input_dedup", "yes", True),
    "missing_policy": ("ignore", "no", "abort"),
    "validate_csv": ("valid_source", "yes", True),
    "gather_row_order": ("gather_row_order", "source", "source"),
    "dedup_scope": ("dedup_scope", "spo", "spo"),
    "dedup_elision": ("dedup_elision", "no", False),
}


def _config(**keys) -> dict:
    return {"datasets": {"number_of_datasets": "1", **keys},
            "dataset1": {"name": "d", "mapping": "m.ttl"}}


def test_config_ini_reaches_every_option(spark):
    assert set(NON_DEFAULT) == {f.name for f in fields(Options)}
    expected = {name: v for name, (_, _, v) in NON_DEFAULT.items()}
    assert all(getattr(Options(), n) != v for n, v in expected.items())

    cfg = load_config(_config(**{k: raw for k, raw, _ in NON_DEFAULT.values()}))
    assert {n: getattr(cfg, n) for n in expected} == expected
    # defaults when config.ini names none of them
    default = load_config(_config())
    assert {n: getattr(default, n) for n in expected} == \
        {n: getattr(Options(), n) for n in expected}

    # every entry point accepts every field as a keyword, and the
    # object itself
    assert MappingPlanner(spark, [], **expected).opts == Options(**expected)
    assert MappingPlanner(spark, [], options=cfg).opts.dedup_scope == "spo"
    assert materialize(spark, "", **expected).count() == 0
    assert materialize(spark, "", options=cfg).count() == 0
    main, frames = materialize_with_targets(spark, "", **expected)
    assert main.count() == 0 and frames == {}
    assert materialize_stream(spark, "", **expected).count() == 0

    for call in (lambda: materialize(spark, "", narrow_dedup_min_bytes=0),
                 lambda: MappingPlanner(spark, [], bogus=1),
                 lambda: materialize_stream(spark, "", bogus=1)):
        with pytest.raises(TypeError):
            call()


def test_stream_options_defaults():
    from sdm_rdfizer_spark.streaming import StreamingMappingPlanner

    planner = StreamingMappingPlanner(None, [], remove_duplicates=False)
    # the stream-wide proof cannot hold, whatever the caller asked for
    assert planner.opts == Options(remove_duplicates=False,
                                   dedup_elision=False)


@pytest.mark.parametrize("name,bad,allowed", [
    ("missing_policy", "Abort", "ignore, abort"),
    ("gather_row_order", "row", "value, source"),
    ("dedup_scope", "graph", "spog, spo, reference"),
])
def test_rejects_unknown_enumerated_value(spark, name, bad, allowed):
    match = f"{name}='{bad}': expected one of {allowed}"
    with pytest.raises(ValueError, match=match):
        Options(**{name: bad})
    with pytest.raises(ValueError, match=match):
        materialize(spark, "", **{name: bad})
    if name != "missing_policy":   # config.ini's ignore key is yes/no
        with pytest.raises(ValueError, match=match):
            load_config(_config(**{name: bad}))
