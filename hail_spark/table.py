"""Keyed distributed Table — the engine's core relational abstraction.

Parity target: Hail's ``Table`` (reference: hail/python/hail/table.py:327,
TableType at hail/hail/src/is/hail/types/virtual/TableType.scala:32) — a
distributed collection of rows with a typed ``globals`` struct and an
ordered key. Here the row data is a Spark ``DataFrame``; the key is
metadata ``(key_fields, is_sorted)`` and laziness/optimization come from
Catalyst instead of Hail's IR pipeline.

Semantics deliberately matched to the reference:

* ``filter``: a missing (NULL) predicate drops the row
  (ref TableIR.scala TableFilter; NULL predicates drop rows natively).
* ordering: missing sorts LAST ascending / FIRST descending (Hail treats
  missing as largest; ref hail/hail/src/is/hail/expr/ir/orderings/) —
  every sort here uses ``asc_nulls_last`` / ``desc_nulls_first``.
* joins are key-equi joins; NULL keys never match
  (ref hail/python/hail/table.py:3414) — Spark's equi-join already does
  this.
* ``key_by`` with a new key re-range-partitions and sorts within
  partitions (the analogue of Hail's eager distributed sort in
  LowerAndExecuteShuffles.scala:15-34), so downstream merge joins and
  scans see aligned, ordered partitions.
"""

from __future__ import annotations

import json
import os
from typing import Any, Callable, Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["Table", "GroupedTable", "asc", "desc"]


def _as_col(x: Any) -> Column:
    return x if isinstance(x, Column) else F.col(x)


class _SortField:
    def __init__(self, col: str | Column, ascending: bool):
        self.col = col
        self.ascending = ascending

    def spark(self) -> Column:
        c = _as_col(self.col)
        # Hail: missing is largest → last when ascending, first when descending.
        return c.asc_nulls_last() if self.ascending else c.desc_nulls_first()


def asc(col: str | Column) -> _SortField:
    return _SortField(col, True)


def desc(col: str | Column) -> _SortField:
    return _SortField(col, False)


def _sort_cols(fields: Iterable[str | Column | _SortField]) -> list[Column]:
    out = []
    for f in fields:
        if isinstance(f, _SortField):
            out.append(f.spark())
        else:
            out.append(_as_col(f).asc_nulls_last())
    return out


class Table:
    """DataFrame + ordered key + globals.

    All transformations are lazy (they build a new DataFrame plan);
    actions (`count`, `collect`, `aggregate`, `write`) trigger Spark jobs.
    """

    def __init__(
        self,
        df: DataFrame,
        key: Sequence[str] = (),
        globals: Mapping[str, Any] | None = None,
        _sorted: bool = False,
    ):
        self._df = df
        self._key = tuple(key)
        self._globals = dict(globals or {})
        # True when df is range-partitioned+sorted by self._key (the
        # analogue of Hail's RVDPartitioner invariant).
        self._key_sorted = _sorted and bool(key)

    # ------------------------------------------------------------------ #
    # basics
    # ------------------------------------------------------------------ #
    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def key(self) -> tuple[str, ...]:
        return self._key

    @property
    def globals(self) -> dict[str, Any]:
        return dict(self._globals)

    @property
    def row(self) -> tuple[str, ...]:
        return tuple(self._df.columns)

    def _with_df(self, df: DataFrame, *, sorted_: bool | None = None) -> "Table":
        return Table(
            df,
            self._key,
            self._globals,
            _sorted=self._key_sorted if sorted_ is None else sorted_,
        )

    @classmethod
    def from_spark(cls, df: DataFrame, key: Sequence[str] = ()) -> "Table":
        return cls(df, key)

    @classmethod
    def from_pandas(
        cls, spark: SparkSession, pdf, key: Sequence[str] = ()
    ) -> "Table":
        """pandas.DataFrame → Table (ref Table.from_pandas table.py:4326).
        Arrow-backed createDataFrame; driver-side input by definition."""
        return cls(spark.createDataFrame(pdf), key)

    def to_pandas(self):
        """Table → pandas.DataFrame in key order (ref Table.to_pandas
        table.py:4280). Collects — driver memory bound, same as Hail."""
        return self._ordered_df().toPandas()

    def to_spark(self) -> DataFrame:
        return self._df

    @classmethod
    def parallelize(
        cls,
        spark: SparkSession,
        rows: list[dict],
        schema=None,
        key: Sequence[str] = (),
    ) -> "Table":
        """Local rows → Table (ref TableParallelize, table_ir.py:624)."""
        df = spark.createDataFrame(rows, schema=schema)
        t = cls(df)
        return t.key_by(*key) if key else t

    @classmethod
    def range(cls, spark: SparkSession, n: int, n_partitions: int | None = None) -> "Table":
        """Ordered int table (ref TableRange, table_ir.py:175)."""
        df = spark.range(0, n, numPartitions=n_partitions).withColumnRenamed("id", "idx")
        return cls(df, key=("idx",), _sorted=True)

    # ------------------------------------------------------------------ #
    # keying / sorting
    # ------------------------------------------------------------------ #
    def key_by(self, *keys: str, sorted: bool = False, eager_sort: bool = False) -> "Table":
        """Change the key (ref TableKeyBy, table_ir.py:270).

        Unlike Hail (which eagerly executes a distributed sort,
        LowerAndExecuteShuffles.scala:15-24), the key here is *lazy
        metadata*: joins/group-bys don't need pre-sorted input (Catalyst
        plans its own exchanges), so shuffling here would just add a
        wasted stage. Operators that genuinely need key order (scans,
        add_index, native write, ordered collect) call
        ``_ensure_key_sorted()`` themselves. Pass ``eager_sort=True`` to
        force the Hail behavior.
        """
        keys = tuple(keys)
        if not keys:
            return Table(self._df, (), self._globals)
        already = self._key_sorted and keys == self._key[: len(keys)]
        t = Table(self._df, keys, self._globals, _sorted=sorted or already)
        return t._ensure_key_sorted() if eager_sort and not t._key_sorted else t

    def _ensure_key_sorted(self) -> "Table":
        """Range-partition + locally sort by key (missing last) — the
        analogue of Hail's RVDPartitioner invariant. No-op if already
        sorted."""
        if not self._key or self._key_sorted:
            return self
        cols = [F.col(k).asc_nulls_last() for k in self._key]
        df = self._df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        return Table(df, self._key, self._globals, _sorted=True)

    def order_by(self, *fields: str | Column | _SortField) -> "Table":
        """Total sort; drops the key (ref TableOrderBy, table_ir.py:710).
        Spark's orderBy is the same distributed sample-range sort Hail
        lowers to (LowerDistributedSort.scala:25)."""
        return Table(self._df.orderBy(*_sort_cols(fields)), (), self._globals)

    def repartition(self, n: int, shuffle: bool = False) -> "Table":
        if shuffle:
            if self._key:
                cols = [F.col(k).asc_nulls_last() for k in self._key]
                df = self._df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
                return self._with_df(df, sorted_=True)
            return self._with_df(self._df.repartition(n))
        return self._with_df(self._df.coalesce(n))

    @property
    def n_partitions(self) -> int:
        return self._df.rdd.getNumPartitions()

    # ------------------------------------------------------------------ #
    # row transforms
    # ------------------------------------------------------------------ #
    def filter(self, expr: Column, keep: bool = True) -> "Table":
        """Missing predicate ⇒ drop (ref TableFilter, table_ir.py:477).

        No ``coalesce(pred, false)`` wrapper: Spark's Filter already
        drops rows whose condition evaluates to NULL (for keep=False,
        ``~NULL`` is NULL and drops too — exactly Hail's semantics),
        and the bare comparison is what parquet predicate pushdown can
        consume; the coalesce form was measured to block pushdown on
        every scan-adjacent filter (q1's shipdate filter)."""
        pred = expr if keep else ~expr
        return self._with_df(self._df.filter(pred))

    def annotate(self, **exprs: Column) -> "Table":
        return self._with_df(self._df.withColumns({k: _as_col(v) for k, v in exprs.items()}))

    def select(self, *fields: str, **exprs: Column) -> "Table":
        """Keep key fields + the named/computed fields (ref Table.select,
        table.py:1570)."""
        cols = [F.col(k) for k in self._key if k not in fields and k not in exprs]
        cols += [F.col(f) for f in fields]
        cols += [_as_col(c).alias(n) for n, c in exprs.items()]
        return self._with_df(self._df.select(*cols))

    def drop(self, *fields: str) -> "Table":
        dropped_key = [k for k in self._key if k in fields]
        df = self._df.drop(*fields)
        if dropped_key:
            return Table(df, (), self._globals)
        return self._with_df(df)

    def rename(self, mapping: Mapping[str, str]) -> "Table":
        df = self._df
        for old, new in mapping.items():
            df = df.withColumnRenamed(old, new)
        key = tuple(mapping.get(k, k) for k in self._key)
        return Table(df, key, self._globals, _sorted=self._key_sorted)

    def transmute(self, **exprs: Column) -> "Table":
        """annotate + drop the REFERENCED input fields (Hail's contract,
        ref Table.transmute table.py:1790). Field provenance is read off
        the analyzed plan of a throwaway select — analysis only, no job.
        Key fields are never dropped (as in Hail, where transmuting over
        a key reference errors; here the key column simply survives)."""
        probe = self._df.select(
            *[_as_col(c).alias(f"__t{i}") for i, c in enumerate(exprs.values())]
        )
        it = probe._jdf.queryExecution().analyzed().references().iterator()
        referenced = set()
        while it.hasNext():
            referenced.add(it.next().name())
        drop = [
            c
            for c in self._df.columns
            if c in referenced and c not in exprs and c not in self._key
        ]
        return self.annotate(**exprs).drop(*drop)

    def explode(self, field: str, name: str | None = None) -> "Table":
        """One row per array element; empty/missing arrays drop the row
        (ref TableExplode, table_ir.py:221 — inner explode semantics)."""
        name = name or field
        others = [c for c in self._df.columns if c != field]
        df = self._df.select(*others, F.explode(field).alias(name))
        return self._with_df(df, sorted_=False)

    def add_index(self, name: str = "idx") -> "Table":
        """Dense 0-based int64 index in key order (ref Table.add_index,
        table.py:2870 = hl.scan.count). Uses the distributed two-pass scan
        primitive — NOT monotonically_increasing_id (not dense)."""
        from .operators.scans import add_index as _add_index

        return _add_index(self, name)

    # ------------------------------------------------------------------ #
    # globals
    # ------------------------------------------------------------------ #
    def annotate_globals(self, **vals: Any) -> "Table":
        g = dict(self._globals)
        g.update(vals)
        return Table(self._df, self._key, g, _sorted=self._key_sorted)

    def select_globals(self, *names: str) -> "Table":
        g = {n: self._globals[n] for n in names}
        return Table(self._df, self._key, g, _sorted=self._key_sorted)

    # ------------------------------------------------------------------ #
    # joins
    # ------------------------------------------------------------------ #
    def join(self, other: "Table", how: str = "inner") -> "Table":
        """Key-equi join on the shared key prefix (ref TableJoin,
        table_ir.py:37; merge join in KeyedRVD.scala:44-97). Catalyst
        picks broadcast vs sort-merge; NULL keys never match."""
        n = min(len(self._key), len(other._key))
        if n == 0:
            raise ValueError("join requires keyed tables")
        on = list(self._key[:n])
        right = other._df
        ren = {}
        for k_l, k_r in zip(self._key[:n], other._key[:n]):
            if k_l != k_r:
                right = right.withColumnRenamed(k_r, k_l)
                ren[k_r] = k_l
        # disambiguate non-key collisions like Hail (appends suffix)
        for c in right.columns:
            if c not in on and c in self._df.columns:
                right = right.withColumnRenamed(c, c + "_1")
        df = self._df.join(right, on=on, how=how)
        g = {**other._globals, **self._globals}
        return Table(df, self._key[:n], g)

    def semi_join(self, other: "Table") -> "Table":
        n = min(len(self._key), len(other._key))
        right = other._df.select(
            *[F.col(rk).alias(lk) for lk, rk in zip(self._key[:n], other._key[:n])]
        )
        return self._with_df(self._df.join(right, on=list(self._key[:n]), how="left_semi"))

    def anti_join(self, other: "Table") -> "Table":
        n = min(len(self._key), len(other._key))
        right = other._df.select(
            *[F.col(rk).alias(lk) for lk, rk in zip(self._key[:n], other._key[:n])]
        )
        return self._with_df(self._df.join(right, on=list(self._key[:n]), how="left_anti"))

    def left_join_right_distinct(self, other: "Table") -> "Table":
        """Annotation join: left join against right deduped by key
        (ref TableLeftJoinRightDistinct, table_ir.py:83)."""
        return self.join(Table(other._df.dropDuplicates(list(other._key)),
                               other._key, other._globals), how="left")

    # ------------------------------------------------------------------ #
    # set ops
    # ------------------------------------------------------------------ #
    def union(self, *others: "Table", unify: bool = False) -> "Table":
        """Same-schema union; key order restored lazily on demand
        (ref TableUnion, table_ir.py:142 — merge-sorted there; here the
        downstream op re-sorts only if it needs order).

        ``unify=True`` (ref Table.union table.py:3771): fields missing
        from a table are padded with nulls, field order is
        first-occurrence across inputs, and numeric fields promote to
        the widest observed type (int32+float64 → float64)."""
        if not unify:
            df = self._df
            for o in others:
                df = df.unionByName(o._df)
            return Table(df, self._key, self._globals, _sorted=False)
        rank = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3, "float": 4, "double": 5}
        dfs = [self._df] + [o._df for o in others]
        order: list[str] = []
        types: dict[str, Any] = {}
        for d in dfs:
            for f in d.schema.fields:
                if f.name not in order:
                    order.append(f.name)
                    types[f.name] = f.dataType
                    continue
                cur = types[f.name]
                a, b = cur.simpleString(), f.dataType.simpleString()
                if a == b:
                    continue
                if a in rank and b in rank:
                    if rank[b] > rank[a]:
                        types[f.name] = f.dataType
                else:
                    raise ValueError(
                        f"union(unify=True): incompatible types for field '{f.name}': {a} vs {b}"
                    )
        out = None
        for d in dfs:
            sel = d.select(
                *[
                    (F.col(c).cast(types[c]) if c in d.columns else F.lit(None).cast(types[c])).alias(c)
                    for c in order
                ]
            )
            out = sel if out is None else out.unionByName(sel)
        return Table(out, self._key, self._globals, _sorted=False)

    def distinct(self) -> "Table":
        """One row per key (ref Table.distinct, table.py:4516)."""
        if not self._key:
            return self._with_df(self._df.dropDuplicates())
        return self._with_df(self._df.dropDuplicates(list(self._key)))

    # ------------------------------------------------------------------ #
    # grouping / aggregation
    # ------------------------------------------------------------------ #
    def group_by(self, *fields: str, **exprs: Column) -> "GroupedTable":
        return GroupedTable(self, list(fields), {k: _as_col(v) for k, v in exprs.items()})

    def aggregate(self, **aggs: Column) -> dict[str, Any]:
        """Whole-table aggregation → driver-side dict
        (ref Table.aggregate, table.py:1879)."""
        row = self._df.agg(*[a.alias(n) for n, a in aggs.items()]).collect()[0]
        return row.asDict(recursive=True)

    def collect_by_key(self, name: str = "values") -> "Table":
        """Values per key → array<struct> (ref Table.collect_by_key,
        table.py:4458)."""
        vals = [c for c in self._df.columns if c not in self._key]
        df = self._df.groupBy(*self._key).agg(
            F.collect_list(F.struct(*vals)).alias(name)
        )
        return Table(df, self._key, self._globals)

    # ------------------------------------------------------------------ #
    # slicing / actions
    # ------------------------------------------------------------------ #
    def _ordered_df(self) -> DataFrame:
        """Rows in key order for user-visible results (Hail contract:
        keyed tables collect/show in key order)."""
        if self._key and not self._key_sorted:
            return self._df.orderBy(*[F.col(k).asc_nulls_last() for k in self._key])
        return self._df

    def head(self, n: int) -> "Table":
        """First n rows in key order (ref TableHead, table_ir.py:670).
        orderBy+limit compiles to TakeOrderedAndProject — no full sort."""
        return self._with_df(self._ordered_df().limit(n))

    def tail(self, n: int) -> "Table":
        spark = self._df.sparkSession
        rows = self._ordered_df().tail(n)
        return Table(
            spark.createDataFrame(rows, schema=self._df.schema),
            self._key,
            self._globals,
            _sorted=False,
        )

    def count(self) -> int:
        return self._df.count()

    def collect(self) -> list:
        return self._ordered_df().collect()

    def take(self, n: int) -> list:
        return self._ordered_df().take(n)

    def show(self, n: int = 20) -> None:
        self._ordered_df().show(n, truncate=False)

    def map_partitions(self, fn, schema: str) -> "Table":
        """TableMapPartitions (table_ir.py:331, LowerTableIR.scala:1757):
        user stream→stream per partition as Arrow-batched pandas
        (``fn: Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]``)."""
        return Table(self._df.mapInPandas(fn, schema=schema), (), self._globals)

    def sample(self, p: float, seed: int = 0) -> "Table":
        """Bernoulli row sample, deterministic per row content via
        xxhash (Hail Table.sample; stable across retries unlike
        F.rand)."""
        cols = [F.col(c) for c in self._df.columns]
        u = (F.pmod(F.xxhash64(*cols, F.lit(seed)), F.lit(1 << 30))) / float(1 << 30)
        return self._with_df(self._df.filter(u < p))

    def naive_coalesce(self, n: int) -> "Table":
        """TableRepartition NAIVE_COALESCE strategy (table_ir.py:743) —
        merge adjacent partitions, no shuffle."""
        return self._with_df(self._df.coalesce(n))

    def checkpoint(self, path: str) -> "Table":
        self.write(path, overwrite=True)
        return Table.read(self._df.sparkSession, path)

    def persist(self, level: str = "MEMORY_AND_DISK") -> "Table":
        from pyspark import StorageLevel

        self._df.persist(getattr(StorageLevel, level))
        return self

    def unpersist(self) -> "Table":
        self._df.unpersist()
        return self

    # ------------------------------------------------------------------ #
    # native format: key-sorted parquet + metadata sidecar
    # (replaces Hail's spec-JSON + indexed binary parts,
    #  ref AbstractRVDSpec.scala:224 — parquet row-group min/max stats
    #  provide the interval-pruning the reference gets from its key index)
    # ------------------------------------------------------------------ #
    def write(self, path: str, overwrite: bool = False) -> None:
        t = self._ensure_key_sorted()
        mode = "overwrite" if overwrite else "error"
        t._df.write.mode(mode).parquet(os.path.join(path, "rows"))
        meta = {
            "name": "hail_spark.Table",
            "key": list(self._key),
            "globals": self._globals,
        }
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "_hail_spark_metadata.json"), "w") as f:
            json.dump(meta, f, default=str)
        # persist the per-file key-range manifest so query_table
        # point/range lookups skip file listing + footer reads — one
        # driver-side footer pass here (write time) instead of one per
        # lookup; at 10^5 files that pass dominates lookup latency
        # (same reason the reference stores partition bounds in its
        # table spec, AbstractRVDSpec.scala:224). Called even when the
        # table is UNKEYED: the empty-key skip path then removes any
        # manifest a previous keyed write of this path left behind, so
        # an overwrite can never leave a stale one.
        from .io.query_table import build_key_manifest

        build_key_manifest(path, list(self._key or []))

    @classmethod
    def read(cls, spark: SparkSession, path: str) -> "Table":
        with open(os.path.join(path, "_hail_spark_metadata.json")) as f:
            meta = json.load(f)
        df = spark.read.parquet(os.path.join(path, "rows"))
        return cls(df, key=meta["key"], globals=meta["globals"], _sorted=True)

    def export(self, path: str, delimiter: str = "\t", header: bool = True) -> None:
        """TSV/CSV export (ref Table.export, table.py:1732)."""
        self._df.write.mode("overwrite").option("sep", delimiter).option(
            "header", header
        ).csv(path)

    def write_fanout(
        self, root: str, fields: dict, overwrite: bool = False
    ) -> None:
        """Write this table once to multiple outputs, each keeping a
        different field subset (ref TableNativeFanoutWriter,
        hail/python/hail/ir/table_writer.py:77).

        ``fields``: {output_name: [row fields to keep]}; key fields are
        always included.  The source plan is computed once (cached),
        then each output is a column-pruned projection written to
        ``root/name`` in the native layout — at scale this reads the
        input a single time instead of once per output, which is the
        entire point of the fanout writer.
        """
        t = self._ensure_key_sorted()
        t._df.persist()
        try:
            for name, keep in fields.items():
                cols = list(self._key) + [
                    f for f in keep if f not in self._key
                ]
                Table(
                    t._df.select(*cols),
                    key=self._key,
                    globals=self._globals,
                    _sorted=True,
                ).write(os.path.join(root, name), overwrite=overwrite)
        finally:
            t._df.unpersist()

    # ------------------------------------------------------------------ #
    # structural sugar and class-surface completion (ref table.py:
    # flatten :3641, expand_types :3588, describe, summarize :4566,
    # to_matrix_table :3921, to_matrix_table_row_major :4048, cache
    # :2113, row_value :390, index :1353, index_globals :1421,
    # multi_way_zip_join :3702, write_many :1438)
    # ------------------------------------------------------------------ #
    def flatten(self) -> "Table":
        """Flatten nested structs into dotted top-level fields (ref
        Table.flatten, table.py:3641).  Key fields that were structs expand
        into their components, like the reference."""
        df = _flatten_df(self._df)
        new_key = []
        for k in self._key:
            if k in df.columns:
                new_key.append(k)
            else:
                new_key.extend(c for c in df.columns if c.startswith(k + "."))
        return Table(df, tuple(new_key), self._globals)

    def expand_types(self) -> "Table":
        """Expand non-primitive types into primitives (ref
        Table.expand_types, table.py:3588): here the engine's physical
        types are already Spark-native, so expansion == flatten."""
        return self.flatten()

    def describe(self) -> str:
        """Schema description string (ref Table.describe)."""
        lines = ["-" * 40, "Global fields:"]
        for k, v in self._globals.items():
            lines.append(f"    '{k}': {type(v).__name__}")
        if not self._globals:
            lines.append("    None")
        lines += ["-" * 40, "Row fields:"]
        for f in self._df.schema.fields:
            lines.append(f"    '{f.name}': {f.dataType.simpleString()}")
        lines += ["-" * 40, f"Key: {list(self._key)}", "-" * 40]
        out = "\n".join(lines)
        print(out)
        return out

    def summarize(self) -> dict:
        """Per-field summary statistics (ref Table.summarize,
        table.py:4566): one aggregation pass — count, missing count, and
        min/max/mean for numerics, distinct counts for strings."""
        aggs = [F.count(F.lit(1)).alias("__n")]
        for f in self._df.schema.fields:
            name, dt = f.name, f.dataType.simpleString()
            aggs.append(F.count(F.when(F.col(name).isNull(), 1)).alias(f"{name}!missing"))
            if dt in ("int", "bigint", "smallint", "tinyint", "double", "float"):
                aggs += [
                    F.min(name).alias(f"{name}!min"),
                    F.max(name).alias(f"{name}!max"),
                    F.avg(name).alias(f"{name}!mean"),
                ]
            elif dt == "string":
                aggs.append(F.approx_count_distinct(name).alias(f"{name}!distinct"))
        row = self._df.agg(*aggs).collect()[0].asDict()
        out: dict = {"n_rows": row.pop("__n")}
        for k, v in row.items():
            field, stat = k.split("!", 1)
            out.setdefault(field, {})[stat] = v
        return out

    def to_matrix_table(
        self, row_key, col_key, row_fields=(), col_fields=()
    ) -> "object":
        """Long-format table -> MatrixTable (ref Table.to_matrix_table,
        table.py:3921): one shuffle gathering entries per row key; col
        metadata = sorted distinct col keys (driver-resident by design)."""
        from .matrixtable import MatrixTable

        entry_fields = [
            c
            for c in self._df.columns
            if c not in (*row_key, col_key, *row_fields, *col_fields)
        ]
        mt = MatrixTable.from_long(
            self._df,
            row_key=list(row_key),
            col_key=col_key,
            entry_fields=entry_fields,
            col_fields=list(col_fields),
        )
        return mt

    def to_matrix_table_row_major(
        self, columns, entry_field_name=None, col_field_name="col"
    ) -> "object":
        """Row-major wide table -> MatrixTable (ref
        Table.to_matrix_table_row_major, table.py:4048): the listed columns
        become one entry per column — a pure projection (no shuffle), col
        names become the column key."""
        from .matrixtable import ENTRIES, MatrixTable

        first = self._df.schema[columns[0]].dataType
        if first.typeName() == "struct":
            entry = F.array(*[F.col(c) for c in columns])
        else:
            name = entry_field_name or "x"
            entry = F.array(*[F.struct(F.col(c).alias(name)) for c in columns])
        keep = [c for c in self._df.columns if c not in columns]
        df = self._df.select(*keep, entry.alias(ENTRIES))
        cols = [{col_field_name: c} for c in columns]
        return MatrixTable(df, self._key, cols, (col_field_name,), self._globals)

    def transmute_globals(self, **vals) -> "Table":
        """Like annotate_globals but drops re-used source globals (ref
        Table.transmute_globals)."""
        g = dict(self._globals)
        g.update(vals)
        return Table(self._df, self._key, g)

    def all(self, expr: Column) -> bool:
        """Whole-table ALL (ref Table.all)."""
        return bool(
            self._df.agg(
                F.coalesce(F.every(expr), F.lit(True)).alias("x")
            ).collect()[0]["x"]
        )

    def any(self, expr: Column) -> bool:
        """Whole-table ANY (ref Table.any)."""
        return bool(
            self._df.agg(
                F.coalesce(F.some(expr), F.lit(False)).alias("x")
            ).collect()[0]["x"]
        )

    def cache(self) -> "Table":
        return self.persist("MEMORY_ONLY")

    @property
    def row_value(self) -> tuple:
        return tuple(c for c in self._df.columns if c not in self._key)

    def index_globals(self) -> dict:
        return dict(self._globals)

    def index(self, keys_df: DataFrame, how: str = "left") -> DataFrame:
        """Key lookup (ref Table.index :1353 — expression sugar for a key
        join; here the external keys arrive as a DataFrame and come back
        annotated with this table's row fields)."""
        return keys_df.join(self._df, on=list(self._key), how=how)

    @staticmethod
    def multi_way_zip_join(tables, data_field_name: str = "data", global_field_name: str = "globals"):
        """Static alias for operators.multiway.multi_way_zip_join (ref
        Table.multi_way_zip_join :3702)."""
        from .operators.multiway import multi_way_zip_join as mwzj

        return mwzj(tables, data_field_name)

    def write_many(self, path: str, fields, overwrite: bool = False) -> None:
        """Write each named field to its own native table under
        ``path/<field>`` (ref Table.write_many :1438) — the fanout writer
        with one field per output."""
        self.write_fanout(path, {f: [f] for f in fields}, overwrite=overwrite)


class GroupedTable:
    """Result of Table.group_by — call .aggregate(**aggs)
    (ref GroupedTable, hail/python/hail/table.py:181-300)."""

    def __init__(self, table: Table, fields: list[str], exprs: dict[str, Column]):
        self._table = table
        self._fields = fields
        self._exprs = exprs
        self._n_partitions: int | None = None

    def partition_hint(self, n: int) -> "GroupedTable":
        """ref GroupedTable.partition_hint (table.py:204): request n
        partitions for the aggregation's result."""
        self._n_partitions = n
        return self

    def aggregate(self, **aggs: Column) -> Table:
        """ref TableKeyByAndAggregate (table_ir.py:510) /
        TableAggregateByKey (table_ir.py:568) — Spark's hash aggregate
        with partial (map-side) combine replaces Hail's staged
        init/seq/comb pipeline (Extract.scala:484). After a
        ``partition_hint(n)`` the result is coalesced to n partitions."""
        df = self._table._df
        keys = [F.col(f) for f in self._fields]
        keys += [c.alias(n) for n, c in self._exprs.items()]
        out = df.groupBy(*keys).agg(*[a.alias(n) for n, a in aggs.items()])
        new_key = tuple(self._fields) + tuple(self._exprs)
        t = Table(out, new_key, self._table._globals)
        return t.repartition(self._n_partitions) if self._n_partitions else t


def _flatten_df(df: DataFrame) -> DataFrame:
    """Recursively lift struct fields to top level as `a.b` columns
    (ref Table.flatten, table.py:3641 — arrays are NOT flattened)."""
    while True:
        structs = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() == "struct"
        ]
        if not structs:
            return df
        cols = []
        for f in df.schema.fields:
            if f.name in structs:
                for sub in f.dataType.fields:
                    cols.append(F.col(f.name)[sub.name].alias(f"{f.name}.{sub.name}"))
            else:
                cols.append(F.col(f.name))
        df = df.select(*cols)
