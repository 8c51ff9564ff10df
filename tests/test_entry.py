"""Driver-contract smoke tests: entry(), queries(), oracle_sql() wiring."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


# Iterative algorithms whose recursion no single SQL statement can
# express — the driver contract's documented rows-only class. Anything
# NOT listed here must ship a DuckDB oracle; additions require a
# reference-implementation test instead (BPE: pure-Python reference in
# test_llm_ops).
ROWS_ONLY_OK = {"bpe_train_merges", "bpe_token_fertility"}


def test_every_query_has_oracle_and_runs(spark, sf_dir):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    missing = [name for name in qs if name not in oracles]
    assert len(qs) > 0
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        assert df.columns, name
    # every registered query has a SQL oracle unless it is in the
    # explicitly-documented iterative rows-only set
    assert set(missing) <= ROWS_ONLY_OK, missing


def test_stalest_first_orders_by_newest_official_row(tmp_path):
    import json

    def record(n, names):
        rows = {name: {"hash_match": True} for name in names}
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))

    record(1, ["old", "fresh", "tie_b", "tie_a"])
    record(2, ["fresh"])
    record(3, ["fresh"])
    (tmp_path / "CORRECTNESS_r04.json").write_text("{not json")  # holds no rows
    names = ["fresh", "tie_b", "old", "never_z", "tie_a", "never_a"]
    assert entrymod._stalest_first(names, str(tmp_path)) == [
        "never_a", "never_z", "old", "tie_a", "tie_b", "fresh",
    ]
    assert entrymod._stalest_first(names, str(tmp_path / "missing")) == sorted(names)


NEVER_OFFICIAL = {
    "bm25_search_store", "epoch_pack_stream", "fuzzy_term_search_store",
    "fuzzy_term_search_symspell", "ivf_member_manifest", "phrase_search_slop",
    "phrase_search_store", "phrase_search_store_scrubbed",
}


def test_gate_slice_holds_the_never_official_queries():
    # the correctness gate checks the first 50 of queries(); with the committed
    # CORRECTNESS_r*.json records these are the stalest, so every query
    # that never held an official row is among them
    qs = list(entrymod.queries())
    assert len(qs) == len(entrymod.oracle_sql())
    assert NEVER_OFFICIAL <= set(qs[:50])


def test_check_oracle_rejects_unknown_query_names(monkeypatch, capsys):
    # a misspelled name used to be skipped silently ("0 failures / 1
    # checked", exit 0); it must fail before any session starts
    import importlib.util
    import pathlib
    import sys

    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def no_session(**_):
        raise AssertionError("session built before the names were checked")

    monkeypatch.setattr(mod, "build_session", no_session)
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", "unused_sf_dir", "wordcount", "wordcuont"]
    )
    assert mod.main() == 2
    assert capsys.readouterr().out.strip() == "unknown query names: wordcuont"
