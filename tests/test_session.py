"""Every session outside perfbench/ comes from ``session.local_session``,
and its shape is the bench's: a tool with its own builder drifts (split
size, time zone, shuffle fan-out) and its numbers stop carrying over."""

from __future__ import annotations

import ast
from pathlib import Path

from movierecommender_sentimentanalysissytem_spark import session

ROOT = Path(__file__).resolve().parent.parent


def test_only_the_session_module_builds_sessions():
    own = Path(session.__file__).resolve()
    offenders = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if rel.parts[0] == "perfbench" or path == own or rel.parts[0].startswith("."):
            continue
        offenders += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Attribute)
            and node.attr == "builder"
            and isinstance(node.value, ast.Name)
            and node.value.id == "SparkSession"
        ]
    assert not offenders, f"sessions built outside session.py: {offenders}"


def test_base_conf_is_the_bench_shape():
    assert session.base_conf(7) == {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def test_suite_session_has_the_shared_shape(spark):
    conf = spark.sparkContext.getConf()
    assert spark.sparkContext.master == "local[8]"
    assert {k: conf.get(k) for k in session.base_conf(8)} == session.base_conf(8)
    root = spark._jvm.org.apache.logging.log4j.LogManager.getRootLogger()
    assert root.getLevel().toString() == "ERROR"
