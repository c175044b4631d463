"""Run configuration (config.ini) parsing and the materialization options.

Mirrors the reference's ConfigParser-driven entry (reference:
rdfizer/rdfizer/semantify.py:9912-9947): datasets, output folder,
remove_duplicate, all_in_one_file, output_format, ordered, enrichment.
Flags that only exist to manage single-process memory (mapping_partitions,
ordered eviction scheduling, enrichment toggle) are accepted but are
no-ops here — Spark's shuffle/spill machinery replaces them.
"""

from __future__ import annotations

import configparser
import os
from dataclasses import dataclass, field


@dataclass
class DatasetConfig:
    name: str
    mapping_path: str


# allowed values of the enumerated options; anything else is rejected
# instead of silently falling back to the default behaviour
_CHOICES = {
    "missing_policy": ("ignore", "abort"),
    "gather_row_order": ("value", "source"),
    "dedup_scope": ("spog", "spo", "reference"),
}


@dataclass(frozen=True)
class Options:
    """Every planner-facing materialization setting, stated once: the
    fields of ``RunConfig`` (from config.ini) and the keyword arguments of
    ``materialize``/``materialize_with_targets``/``materialize_stream``
    and ``MappingPlanner``."""

    remove_duplicates: bool = True
    infer_datatypes: bool = False
    # input dedup (reference: CSV drop_duplicates at semantify.py:10234,
    # SELECT DISTINCT projection for DB sources, functions.py:211-288):
    # scan-level duplicate elimination before any term is computed
    input_dedup: bool = False
    # missing-attribute policy (reference: functions.py:1915-1920 with
    # the global ignore="yes" default, semantify.py:75-76): "ignore"
    # drops the affected POM/TM with a warning, "abort" raises a
    # MappingError naming the attribute and TriplesMap
    missing_policy: str = "ignore"
    # CSV schema validation (reference valid_source,
    # functions.py:41-50): FAILFAST aborts on ragged/malformed rows
    validate_csv: bool = False
    # grouped-gather item order: "value" (deterministic sort, RML-CC
    # leaves cross-row order undefined) or "source" (reference
    # source-row order, cc_functions.py:269-340)
    gather_row_order: str = "value"
    # triple dedup keying: "spog" (default), "spo" (collapse across
    # graphs), or "reference" (the reference's PTT keys — general
    # predicates scoped per object-map rule, graph ignored;
    # semantify.py:105-109 + 4651-4677)
    dedup_scope: str = "spog"
    # dedup elision: skip the global distinct for TriplesMaps that
    # PROVABLY emit duplicate-free triples (see MappingPlanner.compile_all;
    # the proof's driver-side probe is capped at DEDUP_ELISION_PROBE_BYTES).
    # False forces the distinct shuffle even when it provably removes
    # nothing
    dedup_elision: bool = True

    def __post_init__(self) -> None:
        for name, allowed in _CHOICES.items():
            value = getattr(self, name)
            if value not in allowed:
                raise ValueError(
                    f"{name}={value!r}: expected one of "
                    f"{', '.join(allowed)}")


@dataclass(frozen=True)
class RunConfig(Options):
    """A config.ini run: the materialization options plus the output
    settings."""

    datasets: list[DatasetConfig] = field(default_factory=list)
    output_folder: str = "output"
    all_in_one_file: bool = False
    output_format: str = "n-triples"   # n-triples | turtle


def load_config(path_or_dict) -> RunConfig:
    if isinstance(path_or_dict, dict):
        cp = configparser.ConfigParser()
        cp.read_dict(path_or_dict)
        base_dir = "."
    else:
        cp = configparser.ConfigParser(interpolation=configparser.ExtendedInterpolation())
        cp.read(path_or_dict)
        base_dir = os.path.dirname(os.path.abspath(path_or_dict))

    ds_sec = cp["datasets"]

    def flag(key: str, default: str) -> bool:
        return ds_sec.get(key, default).lower() in ("yes", "true")

    datasets = []
    n = int(ds_sec.get("number_of_datasets", "1"))
    for i in range(1, n + 1):
        sec = cp[f"dataset{i}"]
        mp = sec["mapping"]
        if not os.path.isabs(mp):
            mp = os.path.join(base_dir, mp)
        datasets.append(DatasetConfig(name=sec.get("name", f"dataset{i}"), mapping_path=mp))
    return RunConfig(
        datasets=datasets,
        output_folder=ds_sec.get("output_folder", "output"),
        all_in_one_file=flag("all_in_one_file", "no"),
        output_format=ds_sec.get("output_format", "n-triples").lower(),
        remove_duplicates=flag("remove_duplicate", "yes"),
        infer_datatypes=flag("infer_datatypes", "no"),
        input_dedup=flag("input_dedup", "no"),
        missing_policy="ignore" if flag("ignore", "yes") else "abort",
        validate_csv=flag("valid_source", "no"),
        gather_row_order=ds_sec.get("gather_row_order", "value").lower(),
        dedup_scope=ds_sec.get("dedup_scope", "spog").lower(),
        dedup_elision=flag("dedup_elision", "yes"),
    )
