"""Loud-failure guards: checks that must survive `python -O`, and config
input that must be rejected instead of silently ignored."""

import ast
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "dataselector_spark")


def test_package_has_no_bare_asserts():
    """`python -O` strips assert statements, so a runtime check written as
    one silently vanishes in optimized runs. Package code raises instead."""
    found = []
    for root, _dirs, files in os.walk(PACKAGE):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            found += [
                f"{os.path.relpath(path, REPO)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Assert)
            ]
    assert not found, f"bare assert statements (raise instead): {found}"


def test_word_ngrams_sql_rejects_quote_separator(monkeypatch):
    from dataselector_spark.functions import text

    monkeypatch.setattr(text, "TOKEN_SEP", "'")
    with pytest.raises(ValueError, match="TOKEN_SEP"):
        text.word_ngrams_sql("doc", 3)


def test_extra_conf_parsing_skips_empty_segments():
    from dataselector_spark.session import parse_extra_conf

    assert parse_extra_conf("") == {}
    assert parse_extra_conf(" a.b = 1 ;c=x=y;;") == {"a.b": "1", "c": "x=y"}


def test_get_spark_rejects_malformed_extra_conf(monkeypatch):
    from dataselector_spark.session import get_spark

    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF", "spark.sql.shuffle.partitions=4;spark.typo"
    )
    with pytest.raises(ValueError, match="spark.typo"):
        get_spark()
