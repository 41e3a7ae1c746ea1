"""The seeded registry tables: determinism, schema and key integrity."""

import pyarrow.compute as pc
import pyarrow.parquet as pq
import tables

# the repository's testdata schema (column -> Arrow type)
SCHEMA = {
    "region": "r_regionkey:int32 r_name:string",
    "nation": "n_nationkey:int32 n_name:string n_regionkey:int32",
    "customer": "c_custkey:int64 c_name:string c_nationkey:int32 "
    "c_acctbal:double c_mktsegment:string",
    "supplier": "s_suppkey:int64 s_name:string s_nationkey:int32 s_acctbal:double",
    "part": "p_partkey:int64 p_name:string p_brand:string p_type:string "
    "p_size:int32 p_retailprice:double",
    "orders": "o_orderkey:int64 o_custkey:int64 o_orderstatus:string "
    "o_totalprice:double o_orderdate:timestamp[us] o_orderpriority:string",
    "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 "
    "l_linenumber:int32 l_quantity:double l_extendedprice:double "
    "l_discount:double l_tax:double l_returnflag:string "
    "l_linestatus:string l_shipdate:timestamp[us]",
    "events": "event_id:int64 ts:timestamp[us] user_id:int64 "
    "event_type:string value:double props:string",
}


def test_same_seed_same_tables_other_seed_other_tables():
    a, b, c = tables.build_tables(3), tables.build_tables(3), tables.build_tables(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_tables_have_the_testdata_schema(tmp_path):
    rows = tables.write_tables(str(tmp_path), seed=1)
    assert set(rows) == set(SCHEMA)
    for name, spec in SCHEMA.items():
        schema = pq.read_schema(tmp_path / f"{name}.parquet")
        got = " ".join(f"{f.name}:{f.type}" for f in schema)
        assert got == spec, name
        assert pq.read_metadata(tmp_path / f"{name}.parquet").num_rows == rows[name]


def test_keys_join_and_values_stay_in_their_domains():
    t = tables.build_tables(2)

    def within(col, table, key):
        return pc.all(pc.is_in(t[col[0]][col[1]], t[table][key])).as_py()

    assert within(("nation", "n_regionkey"), "region", "r_regionkey")
    assert within(("customer", "c_nationkey"), "nation", "n_nationkey")
    assert within(("orders", "o_custkey"), "customer", "c_custkey")
    assert within(("lineitem", "l_orderkey"), "orders", "o_orderkey")
    assert within(("lineitem", "l_partkey"), "part", "p_partkey")
    assert within(("lineitem", "l_suppkey"), "supplier", "s_suppkey")
    li = t["lineitem"]
    assert set(li["l_returnflag"].to_pylist()) == {"A", "N", "R"}
    assert pc.max(li["l_discount"]).as_py() <= 0.10
    lines = pc.value_counts(li["l_orderkey"]).field("counts")
    assert 1 <= pc.min(lines).as_py() and pc.max(lines).as_py() <= 7
    ev = t["events"]
    assert pc.min(ev["value"]).as_py() >= 0
    assert ev.num_rows == tables.SIZES["events"]
