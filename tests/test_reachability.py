"""Every top-level function and class of the package is reached by
something that ships, or is listed in ``KEPT`` with the reason it stays.

A name is reached when it is registered by a decorator (``@query``,
``@stream_job``) or when a non-test file loads it: as a ``Name``, as an
``Attribute`` or as an import alias. Non-test files are the package,
``tools/``, ``bench.py``, ``perfbench/`` other than ``test_*.py``, and
``__spark_entry__.py``; a re-export in an ``__init__.py`` does not count.
Pure ``ast``: no Spark, no import of the package.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "streamforge_spark"

# Called only by tests, and kept on purpose.
KEPT = {
    "streaming_merger_exact":
        "reference semantics of the merger; ROADMAP item 6 decides its fate",
    "MetricsCollector": "progress reporting, ROADMAP item 4",
    "batch_observation": "progress reporting, ROADMAP item 4",
    "online_observer": "progress reporting, ROADMAP item 4",
    "kafka_stream": "Kafka connector of the reference's pipelines",
    "foreach_batch_kafka_eo": "Kafka connector of the reference's pipelines",
    "foreach_batch_es_upsert":
        "Elasticsearch connector of the reference's pipelines",
    "foreach_batch_es_bulk":
        "Elasticsearch connector of the reference's pipelines",
    "flow_disruption_detector": "the reference's flow-disruption pattern",
    "start_with_token_recovery": "the launcher docstring names it",
    "substring_hash_index": "builds CorpusIngestV2 test inputs",
    "merge_substring_index": "builds CorpusIngestV2 test inputs",
    "read_substring_index": "builds CorpusIngestV2 test inputs",
    "contamination_from_index": "checked against the live contamination queries",
    "save_dsir_counts": "builds CorpusIngestV2 test inputs",
    "dsir_score": "reference the DSIR tests compare against",
    "minhash_signatures": "reference the MinHash tests compare against",
    "email_rule": "from the reference's constraint rule set",
    "date_rule": "from the reference's constraint rule set",
}


def _shipped_files():
    yield from PACKAGE.rglob("*.py")
    yield from (ROOT / "tools").rglob("*.py")
    yield from (p for p in (ROOT / "perfbench").rglob("*.py")
                if not p.name.startswith("test_"))
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


def _loaded_names(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return names


def unreached() -> set[str]:
    defined, loaded = {}, set()
    for path in _shipped_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        if path.is_relative_to(PACKAGE):
            for node in tree.body:
                if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                      ast.ClassDef))
                        and not node.decorator_list):
                    defined[node.name] = path
        if path.name != "__init__.py":
            loaded |= _loaded_names(tree)
    return set(defined) - loaded


@pytest.fixture(autouse=True)
def _registry_loaded():
    """Overrides the suite-wide registry load: this module imports nothing
    of the package."""


def test_every_package_definition_is_reached_or_kept():
    missing = unreached()
    assert missing == set(KEPT), (
        f"reached only by tests (delete, or add to KEPT with a reason): "
        f"{sorted(missing - set(KEPT))}; "
        f"in KEPT but reached or gone: {sorted(set(KEPT) - missing)}")
