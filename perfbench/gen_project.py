"""Seeded dbt project generator for the ``project_session`` workload.

``write(out_dir, tpch_dir, n_models, n_requests, seed)`` lays out a dbt
project over the TPC-H-shaped tables of ``gen_tpch``:

- seven staging views, the only models whose columns are documented, so
  column-knowledge inheritance has every downstream column to fill in;
- ``n_models`` further models in six ``ref`` layers, each built from a
  model of the previous layer by one of three shapes (enrich: join a
  dimension on its unique key; derive: macro- and var-driven columns;
  rollup: a Jinja loop pivoting a categorical column), materialized as
  view, table or ephemeral; the last layer ("marts") is all tables;
- data tests (unique / not_null / accepted_values) on every table model,
  declared only where the generator can prove them from the data shape.

It also writes ``requests.json``: the ``SqlSession`` request mix (60%
workbench previews, 25% aggregate queries, 10% comment DDL, 5%
information_schema) that the workload replays each pass. The generated
SQL is portable, so DuckDB can compute every request's expected row count.

The project's shape (DAG, materializations, request targets) comes from
the fixed ``SHAPE_SEED``, so runs with different seeds do the same amount
of work; the run's seed orders the requests, and ``gen_tpch`` draws the
data from it.
"""

from __future__ import annotations

import json
import os
import random

import gen_tpch

LAYERS = 6
SHAPE_SEED = 0
PREVIEW_ROWS = 200

# staging model -> (source table, [(column, kind, source expression)])
_STAGING = {
    "stg_region": ("region", [
        ("region_id", "key", "r_regionkey"), ("region_name", "cat", "r_name")]),
    "stg_nation": ("nation", [
        ("nation_id", "key", "n_nationkey"), ("nation_name", "text", "n_name"),
        ("region_id", "key", "n_regionkey")]),
    "stg_customer": ("customer", [
        ("customer_id", "key", "c_custkey"), ("customer_name", "text", "c_name"),
        ("nation_id", "key", "c_nationkey"), ("account_balance", "num", "c_acctbal"),
        ("market_segment", "cat", "c_mktsegment")]),
    "stg_supplier": ("supplier", [
        ("supplier_id", "key", "s_suppkey"), ("supplier_name", "text", "s_name"),
        ("supplier_nation_id", "key", "s_nationkey"),
        ("supplier_balance", "num", "s_acctbal")]),
    "stg_part": ("part", [
        ("part_id", "key", "p_partkey"), ("part_name", "text", "p_name"),
        ("brand", "text", "p_brand"), ("part_type", "cat", "p_type"),
        ("part_size", "num", "p_size"), ("retail_price", "num", "p_retailprice")]),
    "stg_orders": ("orders", [
        ("order_id", "key", "o_orderkey"), ("customer_id", "key", "o_custkey"),
        ("order_status", "cat", "o_orderstatus"), ("total_price", "num", "o_totalprice"),
        ("order_date", "date", "o_orderdate"),
        ("order_priority", "cat", "o_orderpriority")]),
    "stg_lineitem": ("lineitem", [
        ("order_id", "key", "l_orderkey"), ("part_id", "key", "l_partkey"),
        ("supplier_id", "key", "l_suppkey"), ("line_number", "num", "l_linenumber"),
        ("quantity", "num", "l_quantity"), ("extended_price", "num", "l_extendedprice"),
        ("discount", "num", "l_discount"), ("tax", "num", "l_tax"),
        ("return_flag", "cat", "l_returnflag"), ("line_status", "cat", "l_linestatus"),
        ("ship_date", "date", "l_shipdate")]),
}
_GRAIN = {
    "stg_region": "region_id", "stg_nation": "nation_id", "stg_customer": "customer_id",
    "stg_supplier": "supplier_id", "stg_part": "part_id", "stg_orders": "order_id",
    "stg_lineitem": None,
}
CAT_VALUES = {
    "region_name": list(gen_tpch.REGIONS),
    "market_segment": list(gen_tpch.SEGMENTS),
    "order_status": list(gen_tpch.ORDER_STATUS),
    "order_priority": list(gen_tpch.PRIORITIES),
    "part_type": list(gen_tpch.PART_TYPES),
    "return_flag": ["A", "N", "R"],
    "line_status": ["F", "O"],
}
_BANDS = ["high", "low"]

_MACROS = """\
{% macro safe_ratio(num, den) -%}
case when {{ den }} = 0 then null else cast({{ num }} as double) / {{ den }} end
{%- endmacro %}

{% macro to_cents(col) -%}
cast(round({{ col }} * 100, 0) as bigint)
{%- endmacro %}

{% macro band(col, threshold) -%}
case when {{ col }} > {{ threshold }} then 'high' else 'low' end
{%- endmacro %}
"""


def _slug(value: str) -> str:
    return "".join(c if c.isalnum() else "_" for c in value.lower())


class _Model:
    def __init__(self, name, layer, cols, grain, sql, materialized):
        self.name, self.layer, self.cols, self.grain = name, layer, cols, grain
        self.sql, self.materialized = sql, materialized
        self.cats = {c: CAT_VALUES[c] for c, k in cols.items() if k == "cat" and c in CAT_VALUES}
        self.cats.update({c: _BANDS for c, k in cols.items() if k == "band"})


def _staging() -> list[_Model]:
    out = []
    for name, (table, cols) in _STAGING.items():
        body = ",\n    ".join(f"{src} as {col}" for col, _, src in cols)
        sql = f"select\n    {body}\nfrom {{{{ source('tpch', '{table}') }}}}\n"
        out.append(_Model(name, 0, {c: k for c, k, _ in cols}, _GRAIN[name], sql, "view"))
    return out


def _enrich(rng, name, p, pool):
    dims = [
        d for d in pool
        if d is not p and d.grain and p.cols.get(d.grain) == "key"
        and any(c not in p.cols and k != "key" for c, k in d.cols.items())
    ]
    if not dims:
        return None
    d = rng.choice(dims)
    extra = [c for c, k in d.cols.items() if c not in p.cols and k != "key"][:3]
    sel = [f"a.{c}" for c in p.cols] + [f"b.{c}" for c in extra]
    sql = (
        "select\n    " + ",\n    ".join(sel)
        + f"\nfrom {{{{ ref('{p.name}') }}}} as a\n"
        + f"inner join {{{{ ref('{d.name}') }}}} as b on a.{d.grain} = b.{d.grain}\n"
    )
    cols = dict(p.cols)
    cols.update({c: d.cols[c] for c in extra})
    return cols, p.grain, sql


def _derive(rng, name, p, pool):
    nums = [c for c, k in p.cols.items() if k == "num"]
    if len(nums) < 1:
        return None
    a = rng.choice(nums)
    b = rng.choice(nums)
    tag = name.rsplit("_", 1)[-1]
    new = {
        f"ratio_{tag}": ("num", f"{{{{ safe_ratio('{a}', '{b}') }}}}"),
        f"cents_{tag}": ("num", f"{{{{ to_cents('{a}') }}}}"),
        f"band_{tag}": ("band", f"{{{{ band('{a}', var('band_threshold')) }}}}"),
    }
    sel = list(p.cols) + [f"{expr} as {c}" for c, (_, expr) in new.items()]
    sql = (
        "select\n    " + ",\n    ".join(sel)
        + f"\nfrom {{{{ ref('{p.name}') }}}}\n"
        + f"where {a} >= {{{{ var('min_amount') }}}}\n"
    )
    cols = dict(p.cols)
    cols.update({c: k for c, (k, _) in new.items()})
    return cols, p.grain, sql


def _rollup(rng, name, p, pool):
    groups = [c for c, k in p.cols.items() if k in ("key", "cat", "band")]
    nums = [c for c, k in p.cols.items() if k == "num"][:3]
    if not groups or not nums:
        return None
    g = rng.choice(groups)
    # the loop emits its columns first, then the group key and the count
    cols = {f"sum_{c}": "num" for c in nums}
    sql = "select\n{% for c in " + json.dumps(nums) + " %}\n    sum({{ c }}) as sum_{{ c }},\n{% endfor %}\n"
    pivots = [c for c in p.cats if c != g and c in CAT_VALUES]
    if pivots:
        pv = rng.choice(pivots)
        sql += (
            f"{{% for v in var('cat_values')['{pv}'] %}}\n"
            f"    sum(case when {pv} = '{{{{ v }}}}' then 1 else 0 end)"
            f" as n_{pv}_{{{{ v | lower | replace(' ', '_') | replace('-', '_') }}}},\n"
            "{% endfor %}\n"
        )
        cols.update({f"n_{pv}_{_slug(v)}": "num" for v in CAT_VALUES[pv]})
    sql += f"    {g},\n    count(*) as row_count\nfrom {{{{ ref('{p.name}') }}}}\ngroup by {g}\n"
    cols.update({g: p.cols[g], "row_count": "num"})
    return cols, g, sql


_SHAPES = ((_enrich, 0.35), (_derive, 0.40), (_rollup, 0.25))


def _layers(rng: random.Random, n_models: int) -> list[_Model]:
    models = _staging()
    per_layer = [n_models // LAYERS + (1 if i < n_models % LAYERS else 0) for i in range(LAYERS)]
    prev = list(models)
    seq = 0
    for layer, count in enumerate(per_layer, start=1):
        made: list[_Model] = []
        while len(made) < count:
            p = rng.choice(prev)
            shape = rng.choices([s for s, _ in _SHAPES], [w for _, w in _SHAPES])[0]
            name = f"{'mart' if layer == LAYERS else 'int'}_l{layer}_{seq:03d}"
            built = shape(rng, name, p, models)
            if built is None:
                continue
            seq += 1
            cols, grain, sql = built
            if layer == LAYERS:
                mat = "table"
            else:
                mat = rng.choices(["view", "table", "ephemeral"], [0.6, 0.1, 0.3])[0]
            made.append(_Model(name, layer, cols, grain, sql, mat))
        models.extend(made)
        prev = made
    return models


def _tests(m: _Model) -> list[dict]:
    cols = []
    for c in m.cols:
        tests: list = []
        if c == m.grain:
            tests = ["unique", "not_null"]
        elif m.cols[c] == "key":
            tests = ["not_null"]
        elif c in m.cats and c in CAT_VALUES:
            tests = [{"accepted_values": {"values": m.cats[c]}}]
        if tests:
            cols.append({"name": c, "tests": tests})
    return cols


def _yaml(doc: dict) -> str:
    import yaml

    return yaml.safe_dump(doc, sort_keys=False)


def _requests(rng: random.Random, models: list[_Model], n: int) -> list[dict]:
    """The seeded request mix; ``kind`` is one of workbench / query /
    comment / info_schema."""
    downstream = [m for m in models if m.layer > 0]
    kinds = ["workbench"] * round(0.60 * n) + ["query"] * round(0.25 * n)
    kinds += ["comment"] * max(1, round(0.10 * n)) + ["info_schema"] * max(1, round(0.05 * n))
    rng.shuffle(kinds)
    out = []
    for kind in kinds:
        m = rng.choice(downstream)
        if kind == "workbench":
            out.append({"kind": kind, "sql": f"select * from {{{{ ref('{m.name}') }}}}"})
        elif kind == "query":
            g = rng.choice([c for c, k in m.cols.items() if k in ("key", "cat", "band")])
            num = rng.choice([c for c, k in m.cols.items() if k == "num"] or [g])
            out.append({
                "kind": kind,
                "sql": f"select {g}, count(*) as n, max({num}) as top "
                       f"from {{{{ ref('{m.name}') }}}} group by {g}",
            })
        elif kind == "comment":
            col = rng.choice(list(m.cols))
            out.append({
                "kind": kind,
                "sql": f"alter table {m.name} alter column {col} comment 'reviewed {col}'",
                "table": m.name, "column": col,
            })
        else:
            out.append({"kind": kind})
    return out


def write(out_dir: str, tpch_dir: str, n_models: int, n_requests: int, seed: int) -> dict:
    """Write the project to ``<out_dir>/project`` and the request mix to
    ``<out_dir>/requests.json``; returns a summary of what was generated."""
    rng = random.Random(SHAPE_SEED)
    models = _layers(rng, n_models)
    proj = os.path.join(out_dir, "project")
    files: dict[str, str] = {
        "dbt_project.yml": _yaml({
            "name": "bench", "config-version": 2, "version": "1.0", "profile": "bench",
            "model-paths": ["models"], "macro-paths": ["macros"],
            "vars": {"min_amount": 0, "band_threshold": 1000, "cat_values": CAT_VALUES},
        }),
        "profiles.yml": _yaml({"bench": {"target": "dev", "outputs": {"dev": {"type": "spark"}}}}),
        "macros/bench_macros.sql": _MACROS,
        "models/staging/_sources.yml": _yaml({"version": 2, "sources": [{
            "name": "tpch",
            "tables": [
                {"name": t, "meta": {"path": os.path.join(tpch_dir, f"{t}.parquet")}}
                for t in gen_tpch.TABLES
            ],
        }]}),
    }
    for m in models:
        folder = "staging" if m.layer == 0 else ("marts" if m.layer == LAYERS else f"l{m.layer}")
        cfg = "" if m.materialized == "view" else f"{{{{ config(materialized='{m.materialized}') }}}}\n"
        files[f"models/{folder}/{m.name}.sql"] = cfg + m.sql
        if m.layer == 0:
            files[f"models/{folder}/{m.name}.yml"] = _yaml({"version": 2, "models": [{
                "name": m.name,
                "description": f"Staged {_STAGING[m.name][0]} rows.",
                "columns": [
                    {"name": c, "description": f"{c.replace('_', ' ')} of the {_STAGING[m.name][0]} row"}
                    for c in m.cols
                ],
            }]})
        elif m.materialized == "table":
            files[f"models/{folder}/{m.name}.yml"] = _yaml({"version": 2, "models": [{
                "name": m.name, "columns": _tests(m),
            }]})
    for rel, text in files.items():
        path = os.path.join(proj, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text)
    requests = _requests(rng, models, n_requests)
    random.Random(seed).shuffle(requests)
    with open(os.path.join(out_dir, "requests.json"), "w") as fh:
        json.dump(requests, fh, indent=1)
    mats = [m.materialized for m in models]
    return {
        "models": len(models),
        "layers": LAYERS + 1,
        "tables": mats.count("table"),
        "views": mats.count("view"),
        "ephemeral": mats.count("ephemeral"),
        "marts": [m.name for m in models if m.layer == LAYERS],
        "requests": len(requests),
    }
