"""CLI surface: every subcommand drives end-to-end (SURVEY.md §2.10 C4)."""

from __future__ import annotations

import glob

from page_rank_mapreduce_java_spark.cli import full_registry, main


def test_list_queries_matches_registry(capsys):
    assert main(["list-queries"]) == 0
    out = capsys.readouterr().out.split()
    assert sorted(out) == sorted(full_registry()[0])
    assert len(out) >= 148


def test_query_unknown_name_fails(capsys):
    assert main(["query", "no_such_query"]) == 1
    assert "list-queries" in capsys.readouterr().err


def test_query_runs_and_writes_parquet(spark, tmp_path):
    out = str(tmp_path / "res")
    assert (
        main(
            [
                "query",
                "dq_fk_violations",
                "--sf-dir",
                "/root/testdata/sf0.001",
                "--output",
                out,
            ]
        )
        == 0
    )
    back = spark.read.parquet(out)
    assert back.count() == 5
    assert {r.n_orphans for r in back.collect()} == {0}


def test_chaingen_then_pagerank_text(spark, tmp_path):
    graph = str(tmp_path / "graph")
    ranks = str(tmp_path / "ranks")
    assert main(["chaingen", "--k", "3", "--output", graph]) == 0
    assert (
        main(
            [
                "pagerank",
                "--input",
                graph,
                "--output",
                ranks,
                "--iterations",
                "2",
                "--text-format",
            ]
        )
        == 0
    )
    lines = []
    for f in glob.glob(f"{ranks}/part-*"):
        lines += open(f).read().splitlines()
    # k=3 chains: 9 chain nodes + sink 0
    assert len(lines) == 10
    assert all("," in ln for ln in lines)


def test_dedup_cli_end_to_end(spark, tmp_path):
    """`dedup` runs a raw documents parquet through each certified
    method and writes keeper assignments."""
    src = str(tmp_path / "docs")
    rows = [(i, f"corpus document {i} payload") for i in range(6)]
    rows += [(10, "same body"), (11, "same body")]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out_exact = str(tmp_path / "out_exact")
    assert main(["dedup", "--input", src, "--method", "exact", "--output", out_exact]) == 0
    back = {r.doc_id: (r.keeper, r.is_dup) for r in spark.read.parquet(out_exact).collect()}
    assert back[11] == (10, 1) and back[10] == (10, 0)

    out_ph = str(tmp_path / "out_phash")
    assert main(["dedup", "--input", src, "--method", "phash", "--output", out_ph]) == 0
    keepers = {r.doc_id for r in spark.read.parquet(out_ph).collect()}
    assert 10 in keepers and 11 not in keepers


def test_sql_subcommand_runs_over_catalog(spark, tmp_path, capsys):
    out = str(tmp_path / "sqlres")
    assert (
        main(
            [
                "sql",
                "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
                "GROUP BY 1 ORDER BY 1",
                "--sf-dir",
                "/root/testdata/sf0.001",
                "--output",
                out,
            ]
        )
        == 0
    )
    rows = spark.read.parquet(out).collect()
    assert {r.l_returnflag for r in rows} == {"A", "N", "R"}
    assert sum(r.n for r in rows) > 0


def test_sql_subcommand_reads_events_through_catalog(capsys):
    # events.parquet is TIMESTAMP(NANOS): only readable through the
    # catalog views — this pins that the sql path uses them.
    assert (
        main(
            [
                "sql",
                "SELECT COUNT(*) AS n FROM events WHERE ts IS NOT NULL",
                "--sf-dir",
                "/root/testdata/sf0.001",
            ]
        )
        == 0
    )
    assert "1000" in capsys.readouterr().out


def test_explain_subcommand_prints_physical_plan(capsys):
    assert (
        main(
            [
                "explain",
                "scan_filter_project",
                "--sf-dir",
                "/root/testdata/sf0.001",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "Physical Plan" in out or "WholeStageCodegen" in out
