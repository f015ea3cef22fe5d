from __future__ import annotations

from multi_search_retrival_big_data_spark.functions import urls


def test_seek_url_plain():
    u, s = urls.build_seek_url("https://example.test/v/abc", 12.5)
    assert u == "https://example.test/v/abc?t=12.5s" and s == "12.5"


def test_seek_url_strips_old_time_params():
    u, _ = urls.build_seek_url("https://example.test/watch?v=x&t=99s", 7)
    assert u == "https://example.test/watch?v=x&t=7s"


def test_seek_url_embed_uses_int_start():
    u, s = urls.build_seek_url("https://www.youtube.com/embed/xyz?start=4", 12.9)
    assert u == "https://www.youtube.com/embed/xyz?start=12" and s == "12.9"


def test_seek_url_none_is_identity():
    assert urls.build_seek_url("https://a/b") == ("https://a/b", None)


def test_seek_url_trims_trailing_zeros():
    u, s = urls.build_seek_url("https://a/b", 30.0)
    assert s == "30" and u.endswith("t=30s")


def test_keyframe_url_tail():
    assert (
        urls.keyframe_url("/data/frames/L21/V001/0042.jpg")
        == "/media/L21/V001/0042.jpg"
    )


def test_registry_sanity():
    """Meta-check: unique names, every query has an oracle, oracles
    only reference the driver-registered tables."""
    import re

    import __spark_entry__ as se

    qs, oracles = se.queries(), se.oracle_sql()
    assert set(oracles) == set(qs)
    known = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name, sql in oracles.items():
        # table refs appear as FROM/JOIN <ident>; CTE names are declared
        ctes = set(
            re.findall(
                r"(\w+)\s*(?:\([^)]*\))?\s+AS\s*(?:MATERIALIZED\s*)?\(",
                sql,
                re.IGNORECASE,
            )
        )
        # blank out string literals first: a literal like
        # '... join merge ...' (an embedded query text) must not read
        # as a FROM/JOIN table reference
        scan = re.sub(r"'[^']*'", "''", sql)
        refs = set(re.findall(r"(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", scan, re.IGNORECASE))
        unknown = {r for r in refs if r.lower() not in known} - ctes - {"unnest", "range"}
        assert not unknown, f"{name}: unknown table refs {unknown}"
