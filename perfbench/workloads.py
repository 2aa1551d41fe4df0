"""The four benchmark workloads, each driving the engine's public functions.

A workload generates its inputs and seeds its store during set-up, runs
one op per call inside the timed loop, and checks every op's output
against an independent reference (DuckDB SQL or a plain-Python replay
of the same generated inputs) after the timed loop ends.

Engine functions are always called through their module attribute
(``publish.merge_into_mor``, ``resolve.resolve_cascade``...), so the
traced run's wrappers see every call.
"""

from __future__ import annotations

import math
import os
import re
import shutil
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen

from dataintegration_ecomprovider_spark import runtime
from dataintegration_ecomprovider_spark.catalog import Catalog, TableSpec
from dataintegration_ecomprovider_spark.llm import dedup, search, similarity
from dataintegration_ecomprovider_spark.operators import (
    explode, export_views, pivot, resolve, surrogate,
)
from dataintegration_ecomprovider_spark.plans import materialize, pipeline, publish


@dataclass
class OpOut:
    """What one op fed the engine and what it produced."""

    input_rows: int
    input_bytes: int
    payload: object = None
    kind: str = ""


@dataclass
class Workload:
    """Base: subclasses fill in generate / seed_store / op / check."""

    spark: object
    work: str
    seed: int
    props: dict = field(default_factory=dict)
    cycle: int = 1          # ops per round; runs stop on round boundaries

    def __post_init__(self) -> None:
        """Subclasses set their op cycle here."""

    @property
    def inputs(self) -> str:
        return os.path.join(self.work, "inputs")

    @property
    def root(self) -> str:
        return os.path.join(self.work, "store")

    def warmup(self) -> None:
        """Run one round of ops untimed, so JIT and caches are warm."""
        for i in range(-self.cycle, 0):
            self.op(i)
            runtime.release_caches(self.spark)

    def observe(self, i: int, out: OpOut) -> None:
        """Untimed bookkeeping right after op `i` (metadata reads only)."""

    def finish(self) -> None:
        """Untimed end-of-run step before store usage is measured."""

    def check(self, outs: list[OpOut]) -> list[bool]:
        raise NotImplementedError

    def layer_stats(self, outs: list[OpOut]) -> dict:
        """Workload-level counts for the traced run: {name: (value, unit)};
        zero where the workload does not run the layer."""
        return {
            "publish.delta_depth": (0.0, "count"),
            "dedup.candidate_pairs": (0.0, "count"),
            "dedup.verified_share": (0.0, "ratio"),
            "similarity.ivf_recall_at_k": (0.0, "ratio"),
        }


def _file_bytes(*paths: str) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _frame_equal(a, b, keys: list[str], rel_tol: float = 0.0) -> bool:
    """Row-set equality of two pandas frames over b's columns."""
    if len(a) != len(b):
        return False
    cols = list(b.columns)
    a = a[cols].sort_values(keys).reset_index(drop=True)
    b = b[cols].sort_values(keys).reset_index(drop=True)
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if rel_tol and x.dtype.kind == "f":
            if not np.allclose(x.astype(float), y.astype(float), rtol=rel_tol, atol=1e-6,
                               equal_nan=True):
                return False
        elif not all((p == q) or (p is None and q is None)
                     or (isinstance(p, float) and isinstance(q, float)
                         and math.isnan(p) and math.isnan(q))
                     for p, q in zip(x.tolist(), y.tolist())):
            return False
    return True


def _duck_equal(con, got: str, want: str) -> bool:
    """Multiset equality of two DuckDB relations given as SQL."""
    q = f"""SELECT (SELECT COUNT(*) FROM (({got}) EXCEPT ALL ({want})))
                 + (SELECT COUNT(*) FROM (({want}) EXCEPT ALL ({got})))"""
    return con.execute(q).fetchone()[0] == 0


class _Frames(Catalog):
    """A catalog over prepared DataFrames (the job's shaped sources)."""

    def __init__(self, spark, frames: dict) -> None:
        super().__init__(spark, sf_dir="",
                         specs={n: TableSpec(n, ()) for n in frames})
        self.frames = frames

    def table(self, name: str):
        return self.frames[name]


# --- catalog_import ---------------------------------------------------------

IMPORT_KEYS = {
    "manufacturers": ["manufacturer_id"],
    "products": ["product_id"],
    "product_groups": ["product_id", "sorting"],
    "prices": ["price_id"],
}
IMPORT_EMPTY = {
    "manufacturers": "manufacturer_id string, manufacturer_name string",
    "products": ("product_id string, product_number string, product_name string, "
                 "product_price double, manufacturer_id string"),
    "product_groups": "product_id string, group_id string, sorting int",
    "prices": ("price_id string, product_id string, price_currency string, "
               "price_amount double, price_quantity int"),
}


def _group_rows(staged):
    return explode.explode_membership(
        staged, ["product_id"], "groups", "group_id",
        sorting_col="group_sorting", sorting_name="sorting",
    ).select("product_id", "group_id", "sorting")


def import_mappings() -> list:
    C = pipeline.ColumnRule
    return [
        pipeline.MappingSpec(
            source_table="manufacturers_src", dest_table="manufacturers",
            columns=(C("manufacturer_id", is_key=True), C("manufacturer_name")),
        ),
        pipeline.MappingSpec(
            source_table="products_src", dest_table="products",
            columns=(
                C("product_id", is_key=True), C("product_number"),
                C("product_name"), C("product_price"), C("manufacturer_id"),
                C("groups"), C("group_sorting"),
            ),
            virtual_columns=("groups", "group_sorting"),
            remove_missing=True,
            relation_outputs=(
                pipeline.RelationOutput("product_groups", _group_rows, ("product_id",)),
            ),
        ),
        pipeline.MappingSpec(
            source_table="prices_src", dest_table="prices",
            columns=(
                C("price_id", is_key=True), C("product_id"), C("price_currency"),
                C("price_amount"), C("price_quantity"),
            ),
            remove_missing=True,
        ),
    ]


class CatalogImport(Workload):
    """One op = one catalog cycle: a full-catalog import job through
    run_job_on_store, then the catalog's export step (products export
    view + category-field pivot) and one curation pass over the product
    texts (see ImportExportStep / ImportCurationStep)."""

    SF = 0.01
    VERSIONS = 4

    def __post_init__(self) -> None:
        self.steps = {
            "export": ImportExportStep(self.spark, os.path.join(self.work, "export"), self.seed),
            "curation": ImportCurationStep(self.spark, os.path.join(self.work, "curation"),
                                           self.seed),
        }

    def generate(self) -> dict:
        base = gen.tpch_tables(self.seed, self.SF)
        versions, props = gen.catalog_versions(self.seed, base, self.VERSIONS)
        self.files = []
        rows = []
        for v, tabs in enumerate(versions):
            d = os.path.join(self.inputs, f"v{v}")
            paths = {}
            for name, t in tabs.items():
                paths[name] = os.path.join(d, f"{name}.parquet")
                gen.write_table(t, paths[name])
            self.files.append(paths)
            rows.append(sum(t.num_rows for t in tabs.values()))
        props["input_rows_per_op"] = int(np.median(rows))
        props["input_bytes_per_op"] = int(np.median([_file_bytes(*p.values()) for p in self.files]))
        props["sf"] = self.SF
        for name, step in self.steps.items():
            props[f"{name}_step"] = step.generate()
        self.props = props
        return props

    def seed_store(self) -> None:
        publish.publish_tables(
            self.spark,
            {t: self.spark.createDataFrame([], s) for t, s in IMPORT_EMPTY.items()},
            self.root, table_keys=IMPORT_KEYS,
        )
        for step in self.steps.values():
            step.seed_store()
        self.sequence: list[int] = []

    def warmup(self) -> None:
        # the first job loads the whole catalog into the empty store; it is
        # part of the replayed sequence, so the checks cover it
        self.sequence.append(0)
        self._job(0)
        self._step_ops(-1)
        runtime.release_caches(self.spark)

    def _step_ops(self, i: int) -> dict[str, list[OpOut]]:
        """Op `i` of each folded step: every op kind of its cycle once."""
        return {name: [step.op(i * step.cycle + j) for j in range(step.cycle)]
                for name, step in self.steps.items()}

    def _job(self, v: int) -> dict:
        spark = self.spark
        paths = self.files[v]
        p_in = spark.read.parquet(paths["products_in"])
        m_in = spark.read.parquet(paths["manufacturers_in"])
        r_in = spark.read.parquet(paths["prices_in"])
        m_cur = publish.read_table(spark, self.root, "manufacturers")
        p_cur = publish.read_table(spark, self.root, "products")

        # manufacturer by id, else by name; unknown names are auto-created
        dim = m_in.unionByName(m_cur)
        p = resolve.resolve_cascade(
            p_in,
            [("manufacturer", dim, "manufacturer_id", "manufacturer_id"),
             ("manufacturer", dim, "manufacturer_name", "manufacturer_id")],
            out_col="manufacturer_id",
        )
        unknown = (p.filter(F.col("manufacturer_id").isNull())
                   .select(F.col("manufacturer").alias("manufacturer_name")).distinct()
                   .withColumn("manufacturer_id", F.lit(None).cast("string")))
        created = surrogate.assign_surrogate_ids(
            unknown, "manufacturer_id", "ImportedMANU",
            order_by=[F.col("manufacturer_name")],
            offset=surrogate.high_water_mark(m_cur, "manufacturer_id", "ImportedMANU"),
        ).select("manufacturer_id", "manufacturer_name")
        p = (p.join(F.broadcast(created.select(
                        F.col("manufacturer_name").alias("manufacturer"),
                        F.col("manufacturer_id").alias("__new_mid"))),
                    "manufacturer", "left")
             .withColumn("manufacturer_id", F.coalesce("manufacturer_id", "__new_mid"))
             .drop("__new_mid", "manufacturer"))

        # product id, else match by product number, else a new surrogate id
        p = resolve.resolve_cascade(
            p, [("product_number", p_cur, "product_number", "product_id")],
            out_col="__pid",
        )
        p = p.withColumn(
            "product_id",
            F.when(F.length(F.trim("product_id")) == 0, F.col("__pid"))
            .otherwise(F.col("product_id")),
        ).drop("__pid")
        p = surrogate.assign_surrogate_ids(
            p, "product_id", "ImportedPROD", order_by=[F.col("product_number")],
            offset=surrogate.high_water_mark(p_cur, "product_id", "ImportedPROD"),
        )
        prices = resolve.resolve_cascade(
            r_in, [("product_number", p, "product_number", "product_id")],
            out_col="product_id",
        )
        frames = {
            "manufacturers_src": m_in.unionByName(created),
            "products_src": p,
            "prices_src": prices,
        }
        return pipeline.run_job_on_store(
            _Frames(spark, frames), self.root, import_mappings(), dest_keys=IMPORT_KEYS,
        )

    def op(self, i: int) -> OpOut:
        v = (i + 1) % self.VERSIONS
        self.sequence.append(v)
        res = self._job(v)
        steps = self._step_ops(i)
        subs = [o for outs in steps.values() for o in outs]
        return OpOut(
            input_rows=self.props["input_rows_per_op"] + sum(o.input_rows for o in subs),
            input_bytes=_file_bytes(*self.files[v].values()) + sum(o.input_bytes for o in subs),
            payload={"version": res["to_version"], "steps": steps},
        )

    def observe(self, i: int, out: OpOut) -> None:
        out.payload["rows"] = {
            t: (publish.table_stats(self.root, t) or {}).get("rows") for t in IMPORT_KEYS
        }

    def finish(self) -> None:
        publish.maintain_store(self.spark, self.root, keep_versions=2,
                               orphan_min_age_seconds=0)

    def check(self, outs: list[OpOut]) -> list[bool]:
        con = duckdb.connect()
        for t, schema in IMPORT_EMPTY.items():
            con.execute(f"CREATE TABLE {t} ({schema})")  # the DDL is valid in both engines
        counts = []
        for v in self.sequence:
            _replay_import(con, self.files[v])
            counts.append({t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
                           for t in IMPORT_KEYS})
        timed = counts[1:]  # counts[0] is the warm-up job
        ok = [out.payload["rows"] == want for out, want in zip(outs, timed)]
        # full content of every table after the last job
        for t in IMPORT_KEYS:
            got = publish.read_table(self.spark, self.root, t).toPandas()
            want = con.execute(f"SELECT * FROM {t}").df()
            if not _frame_equal(got, want, IMPORT_KEYS[t]):
                ok[-1] = False
        con.close()
        # each folded step's outputs, by that step's own check
        for name, step in self.steps.items():
            per_op = [out.payload["steps"][name] for out in outs]
            sub_ok = step.check([o for subs in per_op for o in subs])
            for j, subs in enumerate(per_op):
                ok[j] = ok[j] and all(sub_ok[:len(subs)])
                sub_ok = sub_ok[len(subs):]
        return ok

    def layer_stats(self, outs: list[OpOut]) -> dict:
        return self.steps["curation"].layer_stats(
            [o for out in outs for o in out.payload["steps"]["curation"]])


def _replay_import(con, paths: dict) -> None:
    """The same import job in DuckDB SQL, applied to the replay tables."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW p_in AS SELECT * FROM read_parquet('{paths['products_in']}')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW m_in AS SELECT * FROM read_parquet('{paths['manufacturers_in']}')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW r_in AS SELECT * FROM read_parquet('{paths['prices_in']}')")

    def hwm(table: str, col: str, prefix: str) -> int:
        n = len(prefix) + 1
        return con.execute(
            f"SELECT COALESCE(MAX(CAST(substr({col}, {n}) AS BIGINT)), 0) FROM {table} "
            f"WHERE starts_with({col}, '{prefix}') AND regexp_full_match(substr({col}, {n}), '[0-9]+')"
        ).fetchone()[0]

    hm, hp = hwm("manufacturers", "manufacturer_id", "ImportedMANU"), hwm("products", "product_id", "ImportedPROD")
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE dim AS
          SELECT lower(manufacturer_id) AS k_id, lower(manufacturer_name) AS k_name, manufacturer_id
          FROM (SELECT * FROM m_in UNION ALL SELECT * FROM manufacturers);
        CREATE OR REPLACE TEMP TABLE p1 AS
          SELECT p.*, COALESCE(
              (SELECT ANY_VALUE(d.manufacturer_id) FROM dim d WHERE d.k_id = lower(p.manufacturer)),
              (SELECT ANY_VALUE(d.manufacturer_id) FROM dim d WHERE d.k_name = lower(p.manufacturer))
          ) AS mid
          FROM p_in p;
        CREATE OR REPLACE TEMP TABLE created AS
          SELECT manufacturer AS manufacturer_name,
                 'ImportedMANU' || CAST({hm} + ROW_NUMBER() OVER (ORDER BY manufacturer) AS VARCHAR)
                   AS manufacturer_id
          FROM (SELECT DISTINCT manufacturer FROM p1 WHERE mid IS NULL);
        CREATE OR REPLACE TEMP TABLE p2 AS
          SELECT p1.* EXCLUDE (mid, manufacturer),
                 COALESCE(p1.mid, c.manufacturer_id) AS mid,
                 CASE WHEN length(trim(p1.product_id)) = 0
                      THEN (SELECT ANY_VALUE(x.product_id) FROM products x
                            WHERE lower(x.product_number) = lower(p1.product_number))
                      ELSE p1.product_id END AS pid
          FROM p1 LEFT JOIN created c ON c.manufacturer_name = p1.manufacturer;
        CREATE OR REPLACE TEMP TABLE p3 AS
          SELECT * EXCLUDE (product_id, pid),
                 CASE WHEN pid IS NULL OR length(trim(pid)) = 0
                      THEN 'ImportedPROD' || CAST({hp} + ROW_NUMBER() OVER (
                               PARTITION BY (pid IS NULL OR length(trim(pid)) = 0)
                               ORDER BY product_number) AS VARCHAR)
                      ELSE pid END AS product_id
          FROM p2;
        CREATE OR REPLACE TEMP TABLE rel AS
          SELECT product_id,
                 trim(g.unnest, '"') AS group_id,
                 CAST(COALESCE(TRY_CAST(trim(string_split(group_sorting, ',')[g.generate_subscripts], '"') AS INTEGER), 0) AS INTEGER) AS sorting
          FROM (SELECT product_id, group_sorting, unnest(string_split(groups, ',')) AS unnest,
                       generate_subscripts(string_split(groups, ','), 1) AS generate_subscripts
                FROM p3) g;
        CREATE OR REPLACE TABLE manufacturers AS
          SELECT * FROM manufacturers m
          WHERE lower(m.manufacturer_id) NOT IN (
              SELECT lower(manufacturer_id) FROM m_in
              UNION ALL SELECT lower(manufacturer_id) FROM created)
          UNION ALL SELECT manufacturer_id, manufacturer_name FROM m_in
          UNION ALL SELECT manufacturer_id, manufacturer_name FROM created;
        CREATE OR REPLACE TABLE product_groups AS
          SELECT * FROM product_groups
          WHERE lower(product_id) NOT IN (SELECT lower(product_id) FROM rel)
          UNION ALL SELECT product_id, group_id, sorting FROM rel;
        CREATE OR REPLACE TABLE products AS
          SELECT product_id, product_number, product_name, product_price,
                 mid AS manufacturer_id FROM p3;
        CREATE OR REPLACE TABLE prices AS
          SELECT r.price_id, p.product_id, r.price_currency, r.price_amount, r.price_quantity
          FROM r_in r LEFT JOIN (SELECT DISTINCT ON (lower(product_number)) lower(product_number) AS k, product_id
                                 FROM p3) p ON p.k = lower(r.product_number);
    """)


# --- catalog_export ---------------------------------------------------------

SHOPS = ("SHOP1", "SHOP2", "SHOP3", "SHOP4")
LANGS = ("EN", "DA")


class CatalogExport(Workload):
    """One op = one export view materialized to an export file, or one
    predicate-scoped scan of the published catalog copy."""

    SF = 0.01
    SCANS = (
        (("shop", "=", "SHOP2"), ("language", "=", "EN")),
        (("language", "=", "DA"), ("product_key", ">=", 0.25), ("product_key", "<", 0.35)),
        (("shop", "in", ["SHOP1", "SHOP4"]), ("product_key", "<", 0.1)),
    )
    VIEWS = ("products", "products_full", "groups", "variant_options", "stock_units",
             "category_fields")

    def __post_init__(self) -> None:
        self.kinds = list(self.VIEWS) + [f"scan{k}" for k in range(len(self.SCANS))]
        self.cycle = len(self.kinds)

    def generate(self) -> dict:
        tabs = gen.tpch_tables(self.seed, self.SF)
        sizes = gen.write_tables(tabs, self.inputs)
        part = tabs["part"]
        n = part.num_rows
        pk = part["p_partkey"].to_numpy()
        # the catalog copy: one row per (product, language), shop-scoped
        cat = pa.table({
            "product_key": pa.array(np.repeat(pk, len(LANGS)), pa.int64()),
            "language": list(LANGS) * n,
            "shop": [SHOPS[int(k) % len(SHOPS)] for k in np.repeat(pk, len(LANGS))],
            "product_name": np.repeat(np.array(part["p_name"].to_pylist(), dtype=object),
                                      len(LANGS)).tolist(),
            "product_price": np.repeat(part["p_retailprice"].to_numpy(), len(LANGS)),
        })
        gen.write_table(cat, os.path.join(self.inputs, "catalog_copy.parquet"))
        # category-field values (EAV rows) for the pivot export; each product
        # carries four of six fields, so the wide form has gaps
        fields = [(c, f) for c in ("CAT1", "CAT2", "CAT3") for f in ("F1", "F2")]
        eav = [(int(k), *fields[(int(k) + j) % len(fields)], gen.WORDS[(int(k) * 7 + j) % len(gen.WORDS)])
               for k in pk for j in range(4)]
        gen.write_table(pa.table({
            "product_key": pa.array([r[0] for r in eav], pa.int64()),
            "category_id": [r[1] for r in eav],
            "field_id": [r[2] for r in eav],
            "value": [r[3] for r in eav],
        }), os.path.join(self.inputs, "category_fields.parquet"))
        self.n_part = n
        self.props = {
            "sf": self.SF,
            "tables": sizes,
            "catalog_copy_rows": cat.num_rows,
            "op_mix": self.kinds,
        }
        return self.props

    def seed_store(self) -> None:
        spark = self.spark
        self.cat = Catalog(spark, self.inputs)
        if self.SCANS:
            copy = spark.read.parquet(os.path.join(self.inputs, "catalog_copy.parquet"))
            # eight key-range files, so key predicates have files to skip
            copy = copy.repartitionByRange(8, "product_key", "language")
            publish.publish_tables(spark, {"catalog": copy}, self.root,
                                   table_keys={"catalog": ["product_key", "language"]})
            publish.write_bloom_sidecar(spark, self.root, "catalog", ["shop"])
        # (rows, bytes) each op kind reads: its source tables, or the catalog copy
        sources = {
            "products": ["part", "supplier", "lineitem"],
            "products_full": ["part", "supplier", "lineitem", "orders"],
            "groups": ["nation", "region", "customer"],
            "variant_options": ["nation", "region", "customer"],
            "stock_units": ["lineitem", "part", "supplier"],
            "category_fields": ["category_fields"],
        }
        files = {t: os.path.join(self.inputs, f"{t}.parquet") for ts in sources.values() for t in ts}
        rows = {t: pq.ParquetFile(f).metadata.num_rows for t, f in files.items()}
        copy_stats = publish.table_stats(self.root, "catalog") if self.SCANS else None
        self.op_input = {
            kind: (copy_stats["rows"], copy_stats["bytes"]) if kind.startswith("scan")
            else (sum(rows[t] for t in sources[kind]), _file_bytes(*[files[t] for t in sources[kind]]))
            for kind in self.kinds
        }
        self.exports = os.path.join(self.work, "exports")

    def _scan_where(self, k: int) -> list:
        out = []
        for c, op, val in self.SCANS[k]:
            if c == "product_key":
                val = int(val * self.n_part)
            out.append((c, op, val))
        return out

    def _frame(self, kind: str):
        if kind == "products":
            return export_views.products_export_view(self.cat)
        if kind == "products_full":
            return export_views.products_export_full_view(self.cat)
        if kind == "groups":
            return export_views.groups_export_view(self.cat)
        if kind == "variant_options":
            return export_views.variant_options_export_view(self.cat, language="GERMANY")
        if kind == "stock_units":
            return export_views.stock_units_export_view(self.cat)
        if kind == "category_fields":
            eav = self.spark.read.parquet(os.path.join(self.inputs, "category_fields.parquet"))
            key = F.concat_ws("|", F.lit("ProductCategory"), "category_id", "field_id")
            values = pivot.discover_pivot_values(eav, key)
            return pivot.pivot_eav(eav.withColumn("field_key", key), ["product_key"],
                                   "field_key", values, F.max("value"))
        return publish.scan_table(self.spark, self.root, "catalog",
                                  self._scan_where(int(kind[4:])))

    def op(self, i: int) -> OpOut:
        kind = self.kinds[i % self.cycle]
        out = os.path.join(self.exports, f"op{i}")
        sink(self._frame(kind), out)
        rows, nbytes = self.op_input[kind]
        return OpOut(input_rows=rows, input_bytes=nbytes, payload=out, kind=kind)

    def check(self, outs: list[OpOut]) -> list[bool]:
        con = duckdb.connect()
        for t in ("part", "supplier", "lineitem", "orders", "customer", "nation", "region"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.inputs}/{t}.parquet')")
        con.execute(f"CREATE VIEW catalog AS SELECT * FROM read_parquet('{self.inputs}/catalog_copy.parquet')")
        oracle = {
            "products": export_views.products_export_oracle(),
            "products_full": export_views.products_export_full_oracle(),
            "groups": export_views.groups_export_oracle(),
            "variant_options": export_views.variant_options_export_oracle("GERMANY"),
            "stock_units": export_views.stock_units_export_oracle(),
            "category_fields": _pivot_oracle(con, self.inputs),
        }
        for k in range(len(self.SCANS)):
            conds = []
            for c, op, val in self._scan_where(k):
                if op == "in":
                    conds.append(f"{c} IN ({', '.join(repr(x) for x in val)})")
                else:
                    conds.append(f"{c} {op} {val!r}")
            oracle[f"scan{k}"] = f"SELECT * FROM catalog WHERE {' AND '.join(conds)}"
        ok = []
        for out in outs:
            got = f"SELECT * FROM read_parquet('{out.payload}/*.parquet')"
            cols = [r[0] for r in con.execute(f"DESCRIBE {oracle[out.kind]}").fetchall()]
            sel = ", ".join(f'"{c}"' for c in cols)
            ok.append(_duck_equal(con, f"SELECT {sel} FROM ({got})", oracle[out.kind]))
        con.close()
        return ok


def _pivot_oracle(con, inputs: str) -> str:
    con.execute(f"CREATE VIEW category_fields AS SELECT *, 'ProductCategory|' || category_id "
                f"|| '|' || field_id AS fk FROM read_parquet('{inputs}/category_fields.parquet')")
    keys = [r[0] for r in con.execute("SELECT DISTINCT fk FROM category_fields ORDER BY 1").fetchall()]
    cols = ", ".join(f"MAX(CASE WHEN fk = '{k}' THEN value END) AS \"{k}\"" for k in keys)
    return f"SELECT product_key, {cols} FROM category_fields GROUP BY product_key"


def sink(df, path: str) -> None:
    """The benchmark's own sink: materialize a result as a parquet export."""
    df.write.mode("overwrite").parquet(path)


def collect(df) -> list:
    """The benchmark's own sink for results it checks row by row."""
    return df.collect()


# --- delta_feed -------------------------------------------------------------

DELTA_VIEWS = (
    dict(kind="aggregate", src="orders", dst="v_status", group_cols=["o_orderstatus"],
         sum_cols=["o_totalprice"]),
    dict(kind="aggregate", src="orders", dst="v_urgent", group_cols=["o_orderstatus"],
         sum_cols=["o_totalprice"], src_where=[["o_orderpriority", "=", "1-URGENT"]]),
    dict(kind="join", fact="orders", dim="customer", dst="v_orders_customer",
         fk="o_custkey", dim_key="c_custkey", dim_cols=["c_name", "c_mktsegment"]),
)
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]


class DeltaFeed(Workload):
    """One op = one small MoR merge batch + declared-view refresh + CDC
    read of the batch; every MAINTAIN_EVERY-th op also runs maintain_store."""

    SF = 0.02
    MAX_BATCHES = 200
    MAINTAIN_EVERY = 2

    def __post_init__(self) -> None:
        self.cycle = self.MAINTAIN_EVERY

    def generate(self) -> dict:
        tabs = gen.tpch_tables(self.seed, self.SF)
        self.base = {t: tabs[t] for t in ("orders", "customer")}
        sizes = gen.write_tables(self.base, self.inputs)
        self.batches, props = gen.delta_batches(self.seed, tabs["orders"], self.MAX_BATCHES)
        # all batches in two files, tagged with their batch number; an op
        # reads its own batch through a pushed-down filter
        ups, dels = [], []
        for b, batch in enumerate(self.batches):
            up = batch["upserts"]
            ups.append(pa.table({
                "batch": pa.array([b] * len(up["o_orderkey"]), pa.int32()),
                **{c: up[c] for c in ORDER_COLS if c != "o_orderdate"},
                "o_orderdate": pa.array(up["o_orderdate"], pa.timestamp("us")),
            }))
            dels.append(pa.table({
                "batch": pa.array([b] * len(batch["deletes"]), pa.int32()),
                "o_orderkey": pa.array(batch["deletes"], pa.int64()),
            }))
        self.batch_files = (os.path.join(self.inputs, "upserts.parquet"),
                            os.path.join(self.inputs, "deletes.parquet"))
        gen.write_table(pa.concat_tables(ups), self.batch_files[0])
        gen.write_table(pa.concat_tables(dels), self.batch_files[1])
        self.batch_bytes = _file_bytes(*self.batch_files) / len(self.batches)
        props.update(sf=self.SF, tables=sizes)
        self.props = props
        return props

    def seed_store(self) -> None:
        spark = self.spark
        read = {t: spark.read.parquet(os.path.join(self.inputs, f"{t}.parquet")) for t in self.base}
        # eight key-range files, so the downstream key-range scans can skip
        read["orders"] = read["orders"].repartitionByRange(8, "o_orderkey")
        publish.publish_tables(
            spark, read, self.root,
            table_keys={"orders": ["o_orderkey"], "customer": ["c_custkey"]},
        )
        for v in DELTA_VIEWS:
            spec = dict(v)
            materialize.declare_view(self.root, spec.pop("kind"), **spec)
        report = materialize.refresh_declared_views(spark, self.root)
        if report["errors"]:
            raise RuntimeError(f"view seeding failed: {report['errors']}")
        self.next_batch = 0
        self.applied: list[int] = []

    def op(self, i: int) -> OpOut:
        spark = self.spark
        b = self.next_batch
        if b >= len(self.batches):
            raise RuntimeError("delta_feed ran out of generated batches")
        self.next_batch += 1
        up, dl = (spark.read.parquet(p).filter(F.col("batch") == b).drop("batch")
                  for p in self.batch_files)
        before = publish.current_manifest(self.root)["version"]
        merged = publish.merge_into_mor(
            spark, self.root, "orders", up, keys=["o_orderkey"], deletes=dl,
            txn=("perfbench-delta-feed", b),
        )
        report = materialize.refresh_declared_views(spark, self.root)
        changes = collect(publish.read_changes(
            spark, self.root, "orders", before, merged["version"], keys=["o_orderkey"],
        ))
        # a downstream reader: the open orders in the batch's key range
        batch = self.batches[b]
        keys = batch["upserts"]["o_orderkey"] + batch["deletes"]
        scanned = collect(publish.scan_table(spark, self.root, "orders", self.scan_where(keys)))
        if (i + 1) % self.MAINTAIN_EVERY == 0:
            self.maintain(max_deltas=1)
        self.applied.append(b)
        return OpOut(
            input_rows=len(batch["upserts"]["o_orderkey"]) + len(batch["deletes"]),
            input_bytes=round(self.batch_bytes),
            payload={"batch": b, "changes": [r.asDict() for r in changes],
                     "scanned": [r.asDict() for r in scanned],
                     "view_errors": report["errors"]},
        )

    def observe(self, i: int, out: OpOut) -> None:
        entry = publish.current_manifest(self.root)["tables"]["orders"]
        out.payload["delta_depth"] = len(entry.get("deltas", []))

    def layer_stats(self, outs: list[OpOut]) -> dict:
        stats = super().layer_stats(outs)
        if outs:
            stats["publish.delta_depth"] = (
                float(np.median([o.payload["delta_depth"] for o in outs])), "count")
        return stats

    @staticmethod
    def scan_where(keys: list[int]) -> list:
        return [("o_orderkey", ">=", min(keys)), ("o_orderkey", "<=", max(keys)),
                ("o_orderstatus", "=", "O")]

    def maintain(self, max_deltas: int) -> dict:
        # max_deltas=1 with a pass every 2nd batch: each pass compacts, so
        # every round carries one compaction spike
        return publish.maintain_store(self.spark, self.root, max_deltas=max_deltas,
                                      keep_versions=2, orphan_min_age_seconds=0)

    def warmup(self) -> None:
        # one batch, then a pass that compacts its single delta: compiles
        # every plan the timed rounds run, at half the cost of a round
        self.op(-2)
        self.maintain(max_deltas=0)
        runtime.release_caches(self.spark)

    def finish(self) -> None:
        self.maintain(max_deltas=1)

    def check(self, outs: list[OpOut]) -> list[bool]:
        orders = self.base["orders"].to_pandas()
        state = {r[0]: tuple(r[1:]) for r in orders[ORDER_COLS].itertuples(index=False)}
        by_batch, scans = {}, {}
        for b in self.applied:
            batch = self.batches[b]
            up = batch["upserts"]
            expect = set()
            for d in batch["deletes"]:
                expect.add(("delete", d) + state.pop(d))
            for j, k in enumerate(up["o_orderkey"]):
                row = (up["o_custkey"][j], up["o_orderstatus"][j], up["o_totalprice"][j],
                       pd.Timestamp(up["o_orderdate"][j], unit="us"), up["o_orderpriority"][j])
                old = state.get(k)
                if old is None:
                    expect.add(("insert", k) + row)
                elif old != row:
                    expect.add(("update", k) + row)
                state[k] = row
            by_batch[b] = expect
            lo_hi = self.scan_where(up["o_orderkey"] + batch["deletes"])
            lo, hi = lo_hi[0][2], lo_hi[1][2]
            scans[b] = {(k,) + v for k, v in state.items() if lo <= k <= hi and v[1] == "O"}

        def row_of(r: dict) -> tuple:
            ts = pd.Timestamp(r["o_orderdate"])
            return (r["o_orderkey"], r["o_custkey"], r["o_orderstatus"], r["o_totalprice"],
                    ts.tz_localize(None) if ts.tzinfo else ts, r["o_orderpriority"])

        ok = []
        for out in outs:
            scanned = {row_of(r) for r in out.payload["scanned"]}
            got = {(r["change_type"],) + row_of(r) for r in out.payload["changes"]}
            b = out.payload["batch"]
            ok.append(not out.payload["view_errors"] and got == by_batch[b]
                      and len(got) == len(out.payload["changes"])
                      and scanned == scans[b] and len(scanned) == len(out.payload["scanned"]))
        # final table and every declared view against the replayed state
        want = pd.DataFrame([(k,) + v for k, v in state.items()], columns=ORDER_COLS)
        got = publish.read_table(self.spark, self.root, "orders").toPandas()
        got["o_orderdate"] = pd.to_datetime(got["o_orderdate"]).dt.tz_localize(None)
        good = _frame_equal(got, want, ["o_orderkey"])
        con = duckdb.connect()
        con.register("orders", want)
        con.register("customer", self.base["customer"])
        views = {
            "v_status": ("SELECT o_orderstatus, COUNT(*) AS cnt, SUM(o_totalprice) AS sum_o_totalprice "
                         "FROM orders GROUP BY 1", ["o_orderstatus"]),
            "v_urgent": ("SELECT o_orderstatus, COUNT(*) AS cnt, SUM(o_totalprice) AS sum_o_totalprice "
                         "FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1", ["o_orderstatus"]),
            "v_orders_customer": ("SELECT o.*, c.c_name, c.c_mktsegment FROM orders o "
                                  "LEFT JOIN customer c ON o.o_custkey = c.c_custkey", ["o_orderkey"]),
        }
        for name, (sql, keys) in views.items():
            w = con.execute(sql).df()
            g = publish.read_table(self.spark, self.root, name).toPandas()
            if "o_orderdate" in g:
                g["o_orderdate"] = pd.to_datetime(g["o_orderdate"]).dt.tz_localize(None)
                w["o_orderdate"] = pd.to_datetime(w["o_orderdate"])
            good = good and _frame_equal(g, w, keys, rel_tol=1e-9)
        con.close()
        if not good and ok:
            ok[-1] = False
        return ok


# --- corpus_curation --------------------------------------------------------

class CorpusCuration(Workload):
    """One op = one curation pass over a seeded document batch: exact
    dedup, MinHash-LSH candidates + Jaccard verification, IVF top-k
    against the set-up index, and BM25 top-k queries."""

    DOCS = 2000
    NEAR_DUP = 0.7        # Jaccard at or above which a candidate is verified
    BATCHES = 3
    QUERIES = 32
    K = 5
    TERMS = (("red", "blue"), ("green",), ("silver", "gold", "tan"), ("ivory", "pinks"))

    def generate(self) -> dict:
        self.batch_files = []
        props = None
        for b in range(self.BATCHES):
            docs, emb, p = gen.corpus(self.seed * 31 + b, self.DOCS)
            d = os.path.join(self.inputs, f"b{b}")
            paths = (os.path.join(d, "documents.parquet"), os.path.join(d, "embeddings.parquet"))
            gen.write_table(docs, paths[0])
            gen.write_table(emb, paths[1])
            self.batch_files.append(paths)
            props = props or p
        # the corpus the IVF index serves: its own seeded document set
        _, emb, _ = gen.corpus(self.seed * 31 + 997, self.DOCS * 2, id_offset=10**7)
        self.corpus_path = os.path.join(self.inputs, "corpus_embeddings.parquet")
        gen.write_table(emb, self.corpus_path)
        props.update(batches=self.BATCHES, index_vectors=self.DOCS * 2, queries=self.QUERIES,
                     k=self.K, bm25_queries=len(self.TERMS))
        self.props = props
        return props

    def seed_store(self) -> None:
        spark = self.spark
        idx = similarity.ivf_index(spark.read.parquet(self.corpus_path), n_centroids=16)
        publish.publish_tables(spark, {"ivf_centroids": idx["centroids"],
                                       "ivf_cells": idx["cells"]}, self.root)
        self.centroids = publish.read_table(spark, self.root, "ivf_centroids").cache()
        self.cells = publish.read_table(spark, self.root, "ivf_cells").cache()
        self.centroids.count()
        self.cells.count()

    def op(self, i: int) -> OpOut:
        spark = self.spark
        doc_path, emb_path = self.batch_files[i % self.BATCHES]
        docs = spark.read.parquet(doc_path)
        emb = spark.read.parquet(emb_path)
        groups = collect(dedup.exact_dedup_groups(docs).filter(F.col("dup_count") > 1))
        cands = dedup.minhash_candidates(docs)
        verified = collect(dedup.jaccard_pairs(docs, cands))
        queries = self._queries(emb)
        ivf = collect(similarity.ivf_topk_from_index(queries, self.centroids, self.cells, k=self.K))
        postings = search.token_postings(docs)
        lengths = search.doc_lengths(docs)
        term_df = postings.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        bm25 = [collect(search.bm25_topk(postings, lengths, term_df, list(t), k=self.K))
                for t in self.TERMS]
        return OpOut(
            input_rows=2 * self.DOCS,
            input_bytes=_file_bytes(doc_path, emb_path),
            payload={"batch": i % self.BATCHES,
                     "groups": [tuple(r) for r in groups],
                     "verified": [(r["id_a"], r["id_b"], r["jaccard"]) for r in verified],
                     "ivf": [(r["query_id"], r["neighbor_id"], r["similarity"], r["rank"]) for r in ivf],
                     "bm25": [[(r["doc_id"], r["score"]) for r in rows] for rows in bm25]},
        )

    def _queries(self, emb):
        return emb.filter(F.col("vec_id") % (self.DOCS // self.QUERIES) == 0)

    def layer_stats(self, outs: list[OpOut]) -> dict:
        stats = super().layer_stats(outs)
        if not outs:
            return stats
        cands = [len(o.payload["verified"]) for o in outs]
        shares = [sum(1 for _, _, j in o.payload["verified"] if j >= self.NEAR_DUP) / n
                  for o, n in zip(outs, cands) if n]
        # recall of the last op's IVF answers against the exact top-k
        last = outs[-1].payload
        queries = self._queries(self.spark.read.parquet(self.batch_files[last["batch"]][1]))
        exact = collect(similarity.brute_force_topk(
            self.spark.read.parquet(self.corpus_path), queries, k=self.K))
        want = {(r["query_id"], r["neighbor_id"]) for r in exact}
        got = {(q, n) for q, n, _, _ in last["ivf"]}
        stats.update({
            "dedup.candidate_pairs": (float(np.median(cands)), "count"),
            "dedup.verified_share": (float(np.median(shares)) if shares else 0.0, "ratio"),
            "similarity.ivf_recall_at_k": (len(want & got) / len(want) if want else 0.0, "ratio"),
        })
        return stats

    def check(self, outs: list[OpOut]) -> list[bool]:
        refs = {}
        for b, (doc_path, emb_path) in enumerate(self.batch_files):
            docs = pq.read_table(doc_path).to_pydict()
            vecs = pq.read_table(emb_path).to_pydict()
            refs[b] = _curation_reference(docs, vecs, pq.read_table(self.corpus_path).to_pydict(),
                                          self.TERMS, self.K)
        return [_curation_ok(out.payload, refs[out.payload["batch"]]) for out in outs]


def _curation_reference(docs: dict, vecs: dict, corpus: dict, terms, k: int) -> dict:
    import hashlib

    ids, texts = docs["doc_id"], docs["text"]
    groups: dict[str, list[int]] = {}
    for i, t in zip(ids, texts):
        groups.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(i)
    exact = {(h, min(v), len(v)) for h, v in groups.items() if len(v) > 1}
    members = [sorted(v) for v in groups.values() if len(v) > 1]

    def shingles(t: str) -> set[str]:
        w = re.split(r"[ \t\n\r\f]+", t.lower().strip())
        return {" ".join(w[j:j + 3]) for j in range(max(len(w) - 3, 0) + 1)} - {""}

    sh = {i: shingles(t) for i, t in zip(ids, texts)}
    toks = {i: [x for x in re.split("[^a-z0-9]+", t.lower()) if len(x) >= 2]
            for i, t in zip(ids, texts)}
    n = len(ids)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq: dict[str, int] = {}
    for v in toks.values():
        for x in set(v):
            dfreq[x] = dfreq.get(x, 0) + 1
    bm25 = []
    for q in terms:
        q = [x.lower() for x in q]
        scores = []
        for i in ids:
            tl = toks[i]
            s, hit = 0.0, False
            for x in q:
                tf = tl.count(x)
                if tf == 0:
                    continue
                hit = True
                idf = math.log(1.0 + (n - dfreq[x] + 0.5) / (dfreq[x] + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(tl) / avgdl))
            if hit:
                scores.append((-round(s, 6), i))
        bm25.append(([(i, -s) for s, i in sorted(scores)[:k]], {i: -s for s, i in scores}))
    cvec = {i: np.asarray(v, dtype=np.float64) for i, v in zip(corpus["vec_id"], corpus["embedding"])}
    qvec = {i: np.asarray(v, dtype=np.float64) for i, v in zip(vecs["vec_id"], vecs["embedding"])}
    return {"exact": exact, "exact_members": members, "shingles": sh, "bm25": bm25, "cvec": cvec, "qvec": qvec}


def _curation_ok(got: dict, ref: dict) -> bool:
    if set(got["groups"]) != ref["exact"]:
        return False
    for a, b, j in got["verified"]:
        sa, sb = ref["shingles"][a], ref["shingles"][b]
        if abs(round(len(sa & sb) / len(sa | sb), 6) - j) > 1e-9:
            return False
    # an exact copy shares every band with its source, so each pair inside
    # an exact-duplicate group must be among the candidates
    cand = {(a, b) for a, b, _ in got["verified"]}
    for members in ref["exact_members"]:
        if any((a, b) not in cand for x, a in enumerate(members) for b in members[x + 1:]):
            return False
    ranked: dict[int, list[tuple[int, float]]] = {}
    for q, nb, sim, rank in got["ivf"]:
        x, y = ref["qvec"][q], ref["cvec"][nb]
        want = float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))
        if abs(want - sim) > 2e-6:
            return False
        ranked.setdefault(q, []).append((rank, sim))
    # each query's answers carry ranks 1..n in order of falling similarity
    for rows in ranked.values():
        rows.sort()
        if [r for r, _ in rows] != list(range(1, len(rows) + 1)):
            return False
        if any(a[1] < b[1] - 2e-6 for a, b in zip(rows, rows[1:])):
            return False
    for got_rows, (want_rows, scores) in zip(got["bm25"], ref["bm25"]):
        if len(got_rows) != len(want_rows) or len({i for i, _ in got_rows}) != len(got_rows):
            return False
        for (gi, gs), (wi, ws) in zip(got_rows, want_rows):
            # the score at each rank matches, and the document returned there
            # is the reference's one or another with the same score (a tie)
            if abs(gs - ws) > 2e-6:
                return False
            if gi != wi and (gi not in scores or abs(scores[gi] - ws) > 2e-6):
                return False
    return True


class ImportExportStep(CatalogExport):
    """The export step of a catalog_import op: the products export view
    and the category-field pivot over the catalog's source tables."""

    VIEWS = ("products", "category_fields")
    SCANS = ()


class ImportCurationStep(CorpusCuration):
    """The curation step of a catalog_import op: one pass over a smaller
    batch of product texts, with one BM25 query."""

    DOCS = 500
    BATCHES = 2
    QUERIES = 16
    TERMS = (("red", "blue"),)


WORKLOADS = {
    "catalog_import": CatalogImport,
    "catalog_export": CatalogExport,
    "delta_feed": DeltaFeed,
    "corpus_curation": CorpusCuration,
}


def make(name: str, spark, work: str, seed: int) -> Workload:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return WORKLOADS[name](spark=spark, work=work, seed=seed)
