#!/usr/bin/env python3
"""Generate a conformance corpus from DuckDB's own function catalog.

For every scalar/aggregate/macro function in duckdb_functions(), synthesize a
call from its declared parameter types, keep the first overload DuckDB itself
evaluates successfully, and emit TSV lines `name<TAB>kind<TAB>sql` to stdout.
The Scala side replays each statement through Engine.query to measure true
end-to-end parity (registry + rewrites + TVFs):

    tools/run_main.sh graft.tools.Probe sql <corpus.tsv> <out.tsv>

Driver-side tool (duckdb is the oracle); not part of the shipped library.
"""
import sys
import duckdb

con = duckdb.connect()

SAMPLES = {
    "VARCHAR": ["'abc'", "'a,b,c'", "'%a%'"],
    "INTEGER": ["3", "1"],
    "BIGINT": ["3", "1"],
    "HUGEINT": ["3"],
    "SMALLINT": ["3"],
    "TINYINT": ["3"],
    "UBIGINT": ["3"],
    "UINTEGER": ["3"],
    "USMALLINT": ["3"],
    "UTINYINT": ["3"],
    "DOUBLE": ["2.5", "0.5"],
    "FLOAT": ["2.5"],
    "DECIMAL": ["2.5"],
    "BOOLEAN": ["true"],
    "DATE": ["DATE '2024-03-15'"],
    "TIMESTAMP": ["TIMESTAMP '2024-03-15 10:30:00'"],
    "TIMESTAMP WITH TIME ZONE": ["TIMESTAMPTZ '2024-03-15 10:30:00'"],
    "TIME": ["TIME '10:30:45'"],
    "TIME WITH TIME ZONE": ["TIMETZ '10:30:45'"],
    "INTERVAL": ["INTERVAL '2 days'"],
    "BLOB": ["'ab'::BLOB"],
    "JSON": ["'{\"a\":1,\"b\":[1,2]}'"],
    "UUID": ["'47183823-2574-4bfd-b411-99ed177d3e43'::UUID"],
    "BIT": ["'0101'::BIT"],
    "ANY": ["7", "'abc'", "[1,2,3]"],
    "ANY[]": ["[3,1,2]", "['a','b','a']"],
    "VARCHAR[]": ["['a','b','a']"],
    "INTEGER[]": ["[3,1,2]"],
    "BIGINT[]": ["[3,1,2]"],
    "DOUBLE[]": ["[1.0,2.5,0.5]", "[0.5,0.25]"],
    "FLOAT[]": ["[1.0,2.5,0.5]"],
    "T[]": ["[3,1,2]", "['a','b','a']"],
    "LAMBDA": ["x -> x + 1", "(x, y) -> x + y"],
    "MAP(ANY, ANY)": ["MAP {'k1': 5, 'k2': 7}"],
    "STRUCT": ["{'a': 1, 'b': 'x'}"],
}

def candidates(ptype):
    t = (ptype or "ANY").upper()
    if t in SAMPLES:
        return SAMPLES[t]
    if t.startswith("DECIMAL"):
        return SAMPLES["DECIMAL"]
    if t.endswith("[]"):
        return SAMPLES["ANY[]"] + SAMPLES["DOUBLE[]"]
    if t.startswith("MAP"):
        return SAMPLES["MAP(ANY, ANY)"]
    if t.startswith("STRUCT"):
        return SAMPLES["STRUCT"]
    if "LAMBDA" in t or t == "FUNCTION":
        return SAMPLES["LAMBDA"]
    return SAMPLES["ANY"]

# Targeted invocations for names whose declared parameter types defeat
# the generic sampler (part names, structure literals, named args,
# session objects). Each runs in DuckDB below like every other row;
# `SETUP` statements are executed (not compared) by both sides first.
SETUP = [
    "CREATE TYPE conf_mood AS ENUM ('sad', 'ok', 'happy')",
    "CREATE SEQUENCE conf_seq",
    "SELECT nextval('conf_seq')",
]
TARGETED = {
    "aggregate": "SELECT aggregate([3,1,2], 'min') AS v",
    "approx_quantile": "SELECT approx_quantile(2.5, 0.5) AS v",
    "array_aggr": "SELECT array_aggr([3,1,2], 'sum') AS v",
    "array_aggregate": "SELECT array_aggregate([3,1,2], 'max') AS v",
    "array_cosine_similarity": "SELECT array_cosine_similarity([1.0,2,3]::FLOAT[3], [4.0,5,6]::FLOAT[3]) AS v",
    "array_distance": "SELECT array_distance([1.0,2,3]::FLOAT[3], [4.0,5,6]::FLOAT[3]) AS v",
    "array_dot_product": "SELECT array_dot_product([1.0,2,3]::FLOAT[3], [4.0,5,6]::FLOAT[3]) AS v",
    "array_inner_product": "SELECT array_inner_product([1.0,2,3]::FLOAT[3], [4.0,5,6]::FLOAT[3]) AS v",
    "array_to_json": "SELECT array_to_json([1,2,3]) AS v",
    "array_value": "SELECT array_value(1,2,3) AS v",
    "array_where": "SELECT array_where([1,2,3], [true,false,true]) AS v",
    "array_zip": "SELECT array_zip([1,2], [3,4]) AS v",
    "bitstring": "SELECT bitstring('0101', 8) AS v",
    "cardinality": "SELECT cardinality(MAP {'k1': 5, 'k2': 7}) AS v",
    "create_sort_key": "SELECT create_sort_key('ab', 'ASC NULLS LAST') AS v",
    "current_setting": "SELECT current_setting('search_path') AS v",
    "currval": "SELECT currval('conf_seq') AS v",
    "nextval": "SELECT nextval('conf_seq') AS v",
    "date_diff": "SELECT date_diff('day', DATE '2024-01-01', DATE '2024-03-15') AS v",
    "datediff": "SELECT datediff('day', DATE '2024-01-01', DATE '2024-03-15') AS v",
    "date_sub": "SELECT date_sub('day', DATE '2024-01-01', DATE '2024-03-15') AS v",
    "datesub": "SELECT datesub('day', DATE '2024-01-01', DATE '2024-03-15') AS v",
    "date_part": "SELECT date_part('year', DATE '2024-03-15') AS v",
    "datepart": "SELECT datepart('year', DATE '2024-03-15') AS v",
    "date_trunc": "SELECT date_trunc('month', TIMESTAMP '2024-03-15 10:30:00') AS v",
    "datetrunc": "SELECT datetrunc('month', TIMESTAMP '2024-03-15 10:30:00') AS v",
    "element_at": "SELECT element_at(MAP {'k1': 5}, 'k1') AS v",
    "enum_code": "SELECT enum_code('happy'::conf_mood) AS v",
    "enum_first": "SELECT enum_first(NULL::conf_mood) AS v",
    "enum_last": "SELECT enum_last(NULL::conf_mood) AS v",
    "enum_range": "SELECT enum_range(NULL::conf_mood) AS v",
    "enum_range_boundary": "SELECT enum_range_boundary('sad'::conf_mood, 'ok'::conf_mood) AS v",
    "flatten": "SELECT flatten([[1,2],[3]]) AS v",
    "from_base64": "SELECT from_base64('YWJj') AS v",
    "from_binary": "SELECT from_binary('0101') AS v",
    "unbin": "SELECT unbin('0101') AS v",
    "from_json": "SELECT from_json('{\"a\":1}', '{\"a\":\"BIGINT\"}') AS v",
    "from_json_strict": "SELECT from_json_strict('2', '\"BIGINT\"') AS v",
    "generate_subscripts": "SELECT generate_subscripts([7,8,9], 1) AS v",
    "ilike_escape": "SELECT ilike_escape('A%c', 'a#%%', '#') AS v",
    "like_escape": "SELECT like_escape('a%c', 'a#%%', '#') AS v",
    "not_ilike_escape": "SELECT not_ilike_escape('abc', 'a#%%', '#') AS v",
    "not_like_escape": "SELECT not_like_escape('abc', 'a#%%', '#') AS v",
    "json_deserialize_sql": "SELECT json_deserialize_sql(json_serialize_sql('SELECT 1')) AS v",
    "json_merge_patch": "SELECT json_merge_patch('{\"a\":1}'::JSON, '{\"b\":2}'::JSON) AS v",
    "json_quote": "SELECT json_quote(7) AS v",
    "json_transform": "SELECT json_transform('{\"a\":\"7\"}', '{\"a\":\"BIGINT\"}') AS v",
    "json_transform_strict": "SELECT json_transform_strict('2', '\"BIGINT\"') AS v",
    "list_aggr": "SELECT list_aggr([3,1,2], 'min') AS v",
    "list_aggregate": "SELECT list_aggregate([3,1,2], 'sum') AS v",
    "list_bool_and": "SELECT list_bool_and([true, true, NULL]) AS v",
    "list_bool_or": "SELECT list_bool_or([false, NULL]) AS v",
    "list_where": "SELECT list_where([1,2,3], [true,false,true]) AS v",
    "list_zip": "SELECT list_zip([1,2], [3,4]) AS v",
    "map_concat": "SELECT map_concat(MAP {'a': 1}, MAP {'b': 2}) AS v",
    "map_entries": "SELECT map_entries(MAP {'a': 1}) AS v",
    "map_extract": "SELECT map_extract(MAP {'a': 1}, 'a') AS v",
    "map_from_entries": "SELECT map_from_entries([{'k': 'a', 'v': 1}]) AS v",
    "map_keys": "SELECT map_keys(MAP {'a': 1}) AS v",
    "map_values": "SELECT map_values(MAP {'a': 1}) AS v",
    "position": "SELECT position('b' IN 'abc') AS v",
    "row": "SELECT row(1, 'a') AS v",
    "row_to_json": "SELECT row_to_json(row(1, 'a')) AS v",
    "struct_extract": "SELECT struct_extract({'a': 1, 'b': 'x'}, 'a') AS v",
    "struct_insert": "SELECT struct_insert({'a': 1}, b := 2) AS v",
    "struct_pack": "SELECT struct_pack(a := 1, b := 'x') AS v",
    "to_json": "SELECT to_json([1,2]) AS v",
    "union_extract": "SELECT union_extract(union_value(num := 2), 'num') AS v",
    "union_tag": "SELECT union_tag(union_value(num := 2)) AS v",
    "union_value": "SELECT union_value(num := 2) AS v",
    # internal-only in DuckDB itself (Binder errors): combine, finalize,
    # sum_no_overflow, error (throws by design) — excluded with reason
}

for stmt in SETUP:
    con.execute(stmt)
    print(f"setup\tsetup\t{stmt}")

rows = con.execute("""
  select function_name, function_type, parameter_types
  from duckdb_functions()
  where function_type in ('scalar','aggregate','macro')
    and not starts_with(function_name,'__')
    and not starts_with(function_name,'icu_')
  order by function_name, length(parameter_types)
""").fetchall()

emitted = set()
for name, ftype, ptypes in rows:
    if name in emitted:
        continue
    if any(c in name for c in "!~<>=@^&|*+-/%"):
        continue  # operator spellings probed separately
    ptypes = ptypes or []
    # cap combinatorics: vary each param over its candidates, first-fit
    import itertools
    pools = [candidates(p)[:3] for p in ptypes]
    found = None
    for combo in itertools.islice(itertools.product(*pools), 40):
        call = f"{name}({', '.join(combo)})"
        sql = f"SELECT {call} AS v"
        try:
            con.execute(sql).fetchall()
            found = sql
            break
        except Exception:
            continue
    if name in TARGETED:
        sql = TARGETED[name]
        try:
            con.execute(sql).fetchall()
        except Exception as e:
            print(f"-- targeted {name} fails in duckdb: {e}", file=sys.stderr)
            continue
        emitted.add(name)
        print(f"{name}\t{ftype}\t{sql}")
        continue
    if found:
        emitted.add(name)
        kind = ftype
        print(f"{name}\t{kind}\t{found}")

print(f"-- emitted {len(emitted)} of {len({r[0] for r in rows})} names",
      file=sys.stderr)
