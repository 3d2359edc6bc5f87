"""Schema generations: cross-file type divergence must never break
reads (the reference delegates this to DuckDB union_by_name coercion;
we model it as catalog-tracked generations — SURVEY §7 risk 1)."""

import json
import os

from miniodb_spark.catalog import merge_type

US = 1_000_000
T0 = 1_700_000_000 * US


def test_merge_type_rules():
    assert merge_type("long", "long") == "long"
    assert merge_type("long", "double") == "double"
    assert merge_type("double", "long") == "double"
    assert merge_type("long", "string") == "string"
    assert merge_type("boolean", "long") == "string"


def test_additive_columns_stay_one_generation(engine):
    engine.write("t", {"a": 1}, record_id="r1", timestamp_us=T0)
    engine.flush()
    engine.write("t", {"a": 2, "b": "x"}, record_id="r2", timestamp_us=T0)
    engine.flush()
    assert len(engine.catalog.gen_schemas("t")) == 1
    rows = json.loads(engine.query("SELECT id, a, b FROM t ORDER BY id"))
    assert rows == [{"id": "r1", "a": 1}, {"id": "r2", "a": 2, "b": "x"}]


def test_long_to_double_conflict_reads_as_double(engine):
    engine.write("t", {"x": 5}, record_id="a", timestamp_us=T0)
    engine.flush()
    engine.write("t", {"x": 2.5}, record_id="b", timestamp_us=T0)
    engine.flush()
    gens = engine.catalog.gen_schemas("t")
    assert len(gens) == 2
    assert gens[0]["x"] == "long" and gens[1]["x"] == "double"
    assert engine.catalog.schema_of("t")["x"] == "double"
    rows = json.loads(engine.query("SELECT id, x FROM t ORDER BY id"))
    assert rows == [{"id": "a", "x": 5.0}, {"id": "b", "x": 2.5}]


def test_type_to_string_conflict(engine):
    engine.write("t", {"x": 5}, record_id="a", timestamp_us=T0)
    engine.flush()
    engine.write("t", {"x": True}, record_id="b", timestamp_us=T0)
    engine.flush()
    assert engine.catalog.schema_of("t")["x"] == "string"
    rows = json.loads(engine.query("SELECT id, x FROM t ORDER BY id"))
    assert rows == [{"id": "a", "x": "5"}, {"id": "b", "x": "true"}]


def test_delete_across_generations(engine):
    engine.write("t", {"x": 5}, record_id="a", timestamp_us=T0)
    engine.write("t", {"x": 6}, record_id="kill", timestamp_us=T0)
    engine.flush()
    engine.write("t", {"x": 2.5}, record_id="kill", timestamp_us=T0)
    engine.flush()
    # 'kill' exists in gen 0 (long) and gen 1 (double)
    assert engine.delete("t", "kill") == 2
    rows = json.loads(engine.query("SELECT id, x FROM t"))
    assert rows == [{"id": "a", "x": 5.0}]


def test_repeated_deletes_no_duplicates(engine):
    for i in range(4):
        engine.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
    engine.flush()
    assert engine.delete("t", "r0") == 1
    assert engine.delete("t", "r1") == 1  # second rewrite of the same partition
    rows = json.loads(engine.query("SELECT id FROM t ORDER BY id"))
    assert [r["id"] for r in rows] == ["r2", "r3"]


def test_buffer_type_conflict_with_persisted(engine):
    engine.write("t", {"x": 5}, record_id="a", timestamp_us=T0)
    engine.flush()
    engine.write("t", {"x": 2.5}, record_id="b", timestamp_us=T0)  # unflushed
    rows = json.loads(engine.query("SELECT id, x FROM t ORDER BY id"))
    assert rows == [{"id": "a", "x": 5.0}, {"id": "b", "x": 2.5}]


def test_catalog_survives_restart(engine, spark):
    from miniodb_spark.engine import Engine

    engine.write("t", {"x": 5}, record_id="a", timestamp_us=T0)
    engine.flush()
    engine.write("t", {"x": 2.5}, record_id="b", timestamp_us=T0)
    engine.flush()
    reopened = Engine(spark, engine.root)
    assert reopened.catalog.schema_of("t")["x"] == "double"
    rows = json.loads(reopened.query("SELECT count(*) AS n FROM t"))
    assert rows[0]["n"] == 2


def test_non_identifier_column_names_read_back(engine, spark):
    """Column names that are not SQL identifiers — a dot, a space, a
    backtick — written through ingest_dataframe read back through the
    full read, an ``id =`` lookup and a pruned time window: a dotted
    name must stay one column (not a struct-field access) and quoting
    must survive the backtick. Two generations (``a.b`` widens
    long → double) plus one buffered row."""
    day = 86_400 * US
    d0 = 1_700_006_400 * US  # 2023-11-15 00:00:00 UTC
    rows0 = [("k1", d0, 1, "p"), ("k2", d0 + day, 2, "q")]
    g0 = spark.createDataFrame(
        rows0, "id string, ts long, `a.b` long, `x y` string")
    engine.ingest_dataframe("odd", g0.selectExpr(
        "id", "timestamp_micros(ts) AS timestamp", "`a.b`", "`x y`"))
    g1 = spark.createDataFrame(
        [("k3", d0 + 2 * day, 3.5, "r")],
        "id string, ts long, `a.b` double, `q``t` string")
    engine.ingest_dataframe("odd", g1.selectExpr(
        "id", "timestamp_micros(ts) AS timestamp", "`a.b`", "`q``t`"))
    assert len(engine.catalog.gen_schemas("odd")) == 2
    engine.write("odd", {"v": 7}, record_id="k4", timestamp_us=d0 + day)

    cols = "id, `a.b`, `x y`, `q``t`, v"
    full = json.loads(engine.query_full(
        f"SELECT {cols} FROM odd ORDER BY id").json)
    assert full == [
        {"id": "k1", "a.b": 1.0, "x y": "p"},
        {"id": "k2", "a.b": 2.0, "x y": "q"},
        {"id": "k3", "a.b": 3.5, "q`t": "r"},
        {"id": "k4", "v": 7},
    ]
    lookup = json.loads(engine.query_full(
        f"SELECT {cols} FROM odd WHERE id = 'k3'").json)
    assert lookup == [{"id": "k3", "a.b": 3.5, "q`t": "r"}]
    window = json.loads(engine.query_full(
        f"SELECT {cols} FROM odd WHERE timestamp BETWEEN "
        "TIMESTAMP '2023-11-16 00:00:00' AND TIMESTAMP '2023-11-17 00:00:00' "
        "ORDER BY id").json)
    assert window == [
        {"id": "k2", "a.b": 2.0, "x y": "q"},
        {"id": "k3", "a.b": 3.5, "q`t": "r"},
        {"id": "k4", "v": 7},
    ]
    # both filtered reads went through the zone-map pruned scan
    assert engine.query_stats["zonemap"]["queries"] == 2


def _three_gen_hybrid(engine, table, n_cols):
    """``n_cols`` payload columns over three generations (c0 goes
    long → double → string) plus one buffered row."""
    for g, v in enumerate((1, 1.5, "s")):
        engine.write_batch(table, [
            {"id": f"{g}-{i}", "timestamp_us": T0 + (4 * g + i) * 3600 * US,
             "payload": {"c0": v, **{f"c{j}": i for j in range(1, n_cols)}}}
            for i in range(4)])
        engine.flush(table)
    engine.write(table, {"c1": 9}, record_id="buf", timestamp_us=T0)
    assert len(engine.catalog.gen_schemas(table)) == 3


def _py4j_calls(spark, monkeypatch, fn) -> int:
    """py4j round trips the calling thread makes inside ``fn``. The
    gateway's own thread that deletes finalized Java proxies is not
    counted: when it runs depends on the garbage collector."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    me = threading.get_ident()
    n = 0

    def counting(*args, **kwargs):
        nonlocal n
        n += threading.get_ident() == me
        return orig(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counting)
        fn()
    return n


def test_query_df_py4j_calls_do_not_grow_with_columns(engine, spark,
                                                       monkeypatch):
    """The view build costs O(tables) py4j round trips, not
    O(columns × generations): a 3-generation hybrid table with 40
    payload columns costs the same few calls per query_df as one with
    10."""
    calls = {}
    for n in (10, 40):
        table = f"wide{n}"
        _three_gen_hybrid(engine, table, n)
        for sql in (f"SELECT count(*) FROM {table}",
                    f"SELECT * FROM {table} WHERE id = '1-2'"):
            engine.query_df(sql)  # first use per engine and type: warm
            calls[n, sql.split()[1]] = _py4j_calls(
                spark, monkeypatch, lambda: engine.query_df(sql))
    for kind in ("count(*)", "*"):
        assert abs(calls[40, kind] - calls[10, kind]) <= 4, calls


def test_id_lookup_never_builds_the_full_read(engine, monkeypatch):
    """An ``id =`` query reads through the zone-map pruned scan only;
    the full hybrid read is never built and thrown away."""
    _three_gen_hybrid(engine, "lk", 3)
    built = []
    monkeypatch.setattr(engine, "read_table",
                        lambda t: built.append(t))
    rows = json.loads(engine.query_full(
        "SELECT id, c0 FROM lk WHERE id = '1-2'").json)
    assert rows == [{"id": "1-2", "c0": "1.5"}]
    assert built == []
