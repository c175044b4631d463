"""sdm_rdfizer_spark — a PySpark-native RML materialization engine.

Re-implements the capability surface of SDM-TIB/SDM-RDFizer (RML/R2RML
mapping interpreter) as a mapping *compiler* that emits Spark DataFrame
plans, plus large-scale training-data operators (dedup, similarity search,
text analysis) the original never had.
"""

from .engine import (default_session, materialize, materialize_incremental,
                     materialize_with_targets, semantify, tune_session)
from .config import Options
from .rml_parser import parse_mapping, parse_mapping_file
from .sinks import ntriples_lines, to_turtle, write_ntriples

__version__ = "0.1.0"

__all__ = [
    "Options",
    "default_session",
    "materialize",
    "materialize_incremental",
    "materialize_with_targets",
    "semantify",
    "parse_mapping",
    "parse_mapping_file",
    "ntriples_lines",
    "to_turtle",
    "write_ntriples",
]
