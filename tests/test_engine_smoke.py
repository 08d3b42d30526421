from parquet_query_spark.engine import Engine, filter_rows, sort_rows


def test_select_42(spark):
    eng = Engine(spark=spark)
    res = eng.run("SELECT 42 AS ok;")
    assert res.columns == ["ok"]
    assert res.rows == [["42"]]
    assert res.num_rows == 1


def test_default_buffer_runs(spark):
    eng = Engine(spark=spark)
    sql = (
        "-- Dica: você pode consultar arquivos diretamente pelo caminho registrado.\n"
        "--   SELECT * FROM 'meus_dados/arquivo.parquet' LIMIT 50;\n\n"
        "SELECT 42 AS ok;"
    )
    res = eng.run(sql, cursor=len(sql))
    assert res.rows == [["42"]]


def test_open_folder_and_path_literal_scan(spark, sf_dir):
    eng = Engine.open(sf_dir, table_name="alldata", spark=spark)
    # B4: FROM 'relative/path.parquet'
    res = eng.run("SELECT COUNT(*) AS n FROM 'region.parquet'")
    assert res.rows == [["5"]]
    # sanitized per-file view
    res2 = eng.run("SELECT COUNT(*) AS n FROM region_parquet")
    assert res2.rows == [["5"]]
    # union view exists (mergeSchema union of ALL parquets in the folder)
    res3 = eng.run("SELECT COUNT(*) AS n FROM alldata")
    assert int(res3.rows[0][0]) > 0


def test_preview_limit_and_count(spark, sf_dir):
    eng = Engine.open(sf_dir, spark=spark)
    res = eng.run("SELECT * FROM 'lineitem.parquet'")
    assert len(res.rows) == 200
    assert res.num_rows > 200  # true count banner (A10)


def test_multi_statement_script(spark, sf_dir):
    eng = Engine.open(sf_dir, spark=spark)
    results = eng.run_script(
        "SELECT 1 AS a; SELECT COUNT(*) AS n FROM 'nation.parquet';"
    )
    assert [r.rows for r in results] == [[["1"]], [["25"]]]


def test_client_filter_and_sort():
    columns = ["name", "score"]
    rows = [["alpha", "2"], ["Beta", "10"], ["gamma", ""]]
    assert filter_rows(rows, "BET") == [["Beta", "10"]]
    s = sort_rows(rows, columns, "score")
    assert s == [["alpha", "2"], ["Beta", "10"], ["gamma", ""]]  # empty last
    s2 = sort_rows(rows, columns, "name", "desc")
    assert [r[0] for r in s2] == ["gamma", "Beta", "alpha"]


def test_sort_natural_and_trim():
    # localeCompare(..., {numeric: true}): digit runs compare as integers,
    # so a2 < a10 (reference compareCells, src/App.tsx:479)
    columns = ["name"]
    rows = [["a10"], ["a2"], ["a1"]]
    assert sort_rows(rows, columns, "name") == [["a1"], ["a2"], ["a10"]]
    # values are trimmed before classification: " 10" is numeric
    rows = [[" 10"], ["9"], ["  2"]]
    assert sort_rows(rows, columns, "name") == [["  2"], ["9"], [" 10"]]


def test_sort_pairwise_mixed_types():
    columns = ["v"]
    # numeric compare only when BOTH cells are numeric; date compare only
    # when BOTH have a date hint — otherwise the natural-text branch
    rows = [["10"], ["apple"], ["2024-01-02"], ["3"]]
    s = [r[0] for r in sort_rows(rows, columns, "v")]
    # pairwise rules: "10" vs "3" numeric (3 < 10); text branch puts digit
    # runs before letters; the date string has a '-' but "apple"/"10" don't,
    # so it compares as text against them
    assert s.index("3") < s.index("10")
    assert s.index("2024-01-02") < s.index("apple")
    # empties first under desc (cmp is direction-multiplied, as in the
    # reference's sortedTable)
    rows = [["b"], [""], ["a"]]
    assert sort_rows(rows, columns, "v", "desc") == [[""], ["b"], ["a"]]


def test_view_name_collision_gets_hash_suffix():
    from parquet_query_spark.sources.registry import assign_view_names

    names = assign_view_names(["a/b.parquet", "a_b.parquet", "c.parquet"])
    assert names["a/b.parquet"] == "a_b_parquet"
    assert names["a_b.parquet"].startswith("a_b_parquet_")
    assert len(set(names.values())) == 3
    # deterministic across calls
    assert names == assign_view_names(["a/b.parquet", "a_b.parquet", "c.parquet"])


def test_export_csv(tmp_path, spark, sf_dir):
    eng = Engine.open(sf_dir, spark=spark)
    out = tmp_path / "out.csv"
    n = eng.export_csv("SELECT r_regionkey, r_name FROM 'region.parquet' ORDER BY r_regionkey", str(out))
    data = out.read_bytes()
    assert n == 5
    assert data.startswith(b"r_regionkey,r_name\r\n")
    assert data.count(b"\r\n") == 6


def test_events_nanos_readable(spark, sf_dir):
    from parquet_query_spark.sources.registry import load_table

    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0


def test_sort_parses_rfc2822_dates():
    # JS Date.parse accepts RFC-2822 strings; the comparator must order
    # them chronologically when both cells are date-hinted (':' hint)
    from parquet_query_spark.engine import _parse_dateish

    assert _parse_dateish("Tue, 01 Nov 2016 08:00:00 GMT") is not None
    columns = ["v"]
    rows = [
        ["Wed, 02 Nov 2016 09:00:00 GMT"],
        ["Tue, 01 Nov 2016 08:00:00 GMT"],
        ["2016-11-01T10:00:00Z"],
    ]
    s = [r[0] for r in sort_rows(rows, columns, "v")]
    assert s == [
        "Tue, 01 Nov 2016 08:00:00 GMT",
        "2016-11-01T10:00:00Z",
        "Wed, 02 Nov 2016 09:00:00 GMT",
    ]
