"""MatrixTable — 2-D (rows × cols × entries) abstraction.

Parity target: Hail's ``MatrixTable`` (ref hail/python/hail/
matrixtable.py; MatrixType at hail/hail/src/is/hail/types/virtual/
MatrixType.scala:71-78). Hail itself lowers every matrix op onto a Table
whose rows carry ``entries: array<struct>`` and whose globals carry
``__cols: array<struct>`` (LowerMatrixIR.scala:17-19); we use the same
representation natively:

* rows = DataFrame with one ``__entries`` array column (length n_cols,
  element i belongs to column i);
* cols = small driver-side list of dicts. Every DataFrame of them —
  ``cols()``, the column side of ``entries()`` and of the column joins,
  and the one-row ``__cols`` array that is cross-joined into the plan
  when an expression needs per-column values (the exact analogue of
  Hail's ``__cols`` global) — comes from ``_cols_frame``, one
  Arrow-backed local frame typed as ``cols()`` types the fields.

Entry missingness = NULL array element (matches Hail: filtered entries
become missing, MatrixFilterEntries M:451).
"""

from __future__ import annotations

from typing import Any, Callable, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .table import Table

ENTRIES = "__entries"
COLS = "__cols"


def _col_index(n: int) -> pa.Table:
    """``__idx`` = 0 … n-1, the column index a ``_cols_frame`` leads with."""
    return pa.table({"__idx": pa.array(range(n), pa.int64())})


class MatrixTable:
    def __init__(
        self,
        rows_df: DataFrame,
        row_key: Sequence[str],
        cols: list[dict],
        col_key: Sequence[str],
        globals: Mapping[str, Any] | None = None,
    ):
        self._df = rows_df  # includes ENTRIES column
        self._row_key = tuple(row_key)
        self._cols = list(cols)
        self._col_key = tuple(col_key)
        self._globals = dict(globals or {})

    # ------------------------------------------------------------------ #
    # construction (ref from_parts :4546, from_rows_table :4492)
    # ------------------------------------------------------------------ #
    @classmethod
    def from_long(
        cls,
        df: DataFrame,
        row_key: Sequence[str],
        col_key: str,
        entry_fields: Sequence[str],
        col_fields: Sequence[str] = (),
    ) -> "MatrixTable":
        """Build from a long-format table (one row per (row, col) pair) —
        the `to_matrix_table` path (ref table.py to_matrix_table).

        Cols = sorted distinct col keys (collected: col dimension is
        small by Hail's own design). Rows groupBy row key; entries
        gathered into a dense array via an idx→entry map, missing pairs
        become NULL entries."""
        col_rows = (
            df.select(col_key, *col_fields).distinct().orderBy(col_key).collect()
        )
        cols = [r.asDict() for r in col_rows]
        n = len(cols)
        spark = df.sparkSession
        idx_map = {r[col_key]: i for i, r in enumerate(cols)}
        mapping = F.create_map(
            *[x for kv in idx_map.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
        )
        entry = F.struct(*[F.col(f) for f in entry_fields])
        pairs = df.select(
            *row_key, mapping[F.col(col_key)].alias("__idx"), entry.alias("__e")
        )
        gathered = pairs.groupBy(*row_key).agg(
            F.map_from_entries(F.collect_list(F.struct("__idx", "__e"))).alias("__m")
        )
        dense = gathered.select(
            *row_key,
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)), lambda i: F.col("__m")[i]
            ).alias(ENTRIES),
        )
        return cls(dense, row_key, cols, (col_key,))

    @classmethod
    def from_rows_table(cls, table: "Table") -> "MatrixTable":
        """MatrixTable with no columns from a rows table (ref
        from_rows_table :4492)."""
        df = table.df.withColumn(ENTRIES, F.array().cast("array<struct<__void:int>>"))
        return cls(df, table.key, [], (), dict(table.globals))

    @classmethod
    def from_parts(
        cls,
        globals: dict | None = None,
        rows: dict | None = None,
        cols: dict | None = None,
        entries: dict | None = None,
    ) -> "MatrixTable":
        """Literal-dict constructor for tests (ref from_parts :4546):
        rows/cols/entries are dicts of field → list (lists of lists for
        entries, indexed [row][col])."""
        from pyspark.sql import Row

        from .session import get_spark

        spark = get_spark()
        rows = rows or {}
        cols = cols or {}
        entries = entries or {}
        n_rows = len(next(iter(rows.values()))) if rows else len(next(iter(entries.values())))
        n_cols = len(next(iter(cols.values()))) if cols else (
            len(next(iter(entries.values()))[0]) if entries else 0
        )
        col_dicts = [
            {"col_idx": j, **{k: v[j] for k, v in cols.items()}} for j in range(n_cols)
        ]
        efields = list(entries)
        data = []
        for i in range(n_rows):
            rec = {"row_idx": i, **{k: v[i] for k, v in rows.items()}}
            # Row (not dict) so Spark infers a STRUCT entry type, not a map
            rec[ENTRIES] = [
                Row(**{k: entries[k][i][j] for k in efields}) for j in range(n_cols)
            ]
            data.append(rec)
        df = spark.createDataFrame(data)
        return cls(df, ("row_idx",), col_dicts, ("col_idx",), dict(globals or {}))

    # ------------------------------------------------------------------ #
    # shape / access (ref globals ops :293-:1069)
    # ------------------------------------------------------------------ #
    def count_rows(self) -> int:
        return self._df.count()

    def count_cols(self) -> int:
        return len(self._cols)

    def count(self) -> tuple[int, int]:
        return self.count_rows(), self.count_cols()

    @property
    def row_key(self) -> tuple[str, ...]:
        return self._row_key

    @property
    def col_key(self) -> tuple[str, ...]:
        return self._col_key

    @property
    def globals(self):
        from .utils import Struct

        return Struct(**self._globals)

    @property
    def row(self):
        """Row-field surface as a Struct of Columns (the engine's analog of
        the reference's row StructExpression)."""
        from .utils import Struct

        return Struct(**{c: F.col(c) for c in self._df.columns if c != ENTRIES})

    @property
    def row_value(self):
        from .utils import Struct

        return Struct(
            **{
                c: F.col(c)
                for c in self._df.columns
                if c != ENTRIES and c not in self._row_key
            }
        )

    @property
    def col(self):
        """Col-field surface: field name → per-column value list (cols are
        driver-side metadata in this engine)."""
        from .utils import Struct

        if not self._cols:
            return Struct()
        return Struct(**{k: [c.get(k) for c in self._cols] for k in self._cols[0]})

    @property
    def col_value(self):
        from .utils import Struct

        return Struct(**{k: v for k, v in self.col.items() if k not in self._col_key})

    @property
    def entry(self):
        """Entry-field surface: names of the entry struct fields."""
        from .utils import Struct

        return Struct(**{f: f for f in self._entry_fields()})

    def rows(self) -> Table:
        """Row-fields table (drops entries) (ref MatrixTable.rows())."""
        return Table(self._df.drop(ENTRIES), self._row_key, self._globals)

    def cols(self) -> Table:
        """Col-fields table (ref MatrixTable.cols())."""
        return Table(self._cols_frame(), self._col_key, self._globals)

    def entries(self) -> Table:
        """Long-format entries table: one row per defined (row, col)
        (ref MatrixTable.entries(), localize path matrixtable.py).
        posexplode + broadcast join of the small col table."""
        col_df = self._cols_frame(before=_col_index(len(self._cols)))
        long = self._df.select(
            *[c for c in self._df.columns if c != ENTRIES],
            F.posexplode_outer(ENTRIES).alias("__idx", "__e"),
        )
        long = long.join(F.broadcast(col_df), on="__idx", how="left")
        entry_fields = self._entry_fields()
        out = long.select(
            *[c for c in long.columns if c not in ("__e", "__idx")],
            *[F.col("__e")[f].alias(f) for f in entry_fields],
        )
        return Table(out, self._row_key + self._col_key, self._globals)

    def index_globals(self) -> dict:
        return dict(self._globals)

    def globals_table(self) -> "Table":
        spark = self._df.sparkSession
        return Table(spark.createDataFrame([self._globals or {"__dummy": 0}]), ())

    def _entry_fields(self) -> list[str]:
        et = self._df.schema[ENTRIES].dataType.elementType
        return [f.name for f in et.fields]

    def _with_df(self, df: DataFrame) -> "MatrixTable":
        return MatrixTable(df, self._row_key, self._cols, self._col_key, self._globals)

    def _cols_frame(
        self,
        fields: Sequence[str] | None = None,
        before: pa.Table | None = None,
        nest: str | None = None,
    ) -> DataFrame:
        """The columns as a DataFrame, one row per column in column
        order: ``before``'s columns, then the col ``fields`` (all of
        them by default), named and typed as ``spark.createDataFrame``
        infers them from the column dicts. With ``nest``, one row whose
        array column ``nest`` holds those rows as structs. It is
        ``methods.local.local_frame``'s Arrow-backed ``LocalRelation``,
        so collecting it starts no Spark job."""
        from .methods.local import local_frame

        rows = self._cols if fields is None else [{k: c[k] for k in fields} for c in self._cols]
        return local_frame(self._df.sparkSession, rows, before, nest)

    def _attach_cols(self, df: DataFrame) -> DataFrame:
        """``df`` cross-joined with one row whose ``__cols`` array holds
        column i's fields at element i."""
        return df.crossJoin(F.broadcast(self._cols_frame(nest=COLS)))

    # ------------------------------------------------------------------ #
    # filters (ref MatrixFilterRows M:201 / Cols M:624 / Entries M:451)
    # ------------------------------------------------------------------ #
    def filter_rows(self, expr: Column, keep: bool = True) -> "MatrixTable":
        # bare predicate: NULL drops the row natively, and parquet
        # pushdown can consume the comparison (see Table.filter)
        pred = expr if keep else ~expr
        return self._with_df(self._df.filter(pred))

    def filter_cols(self, pred: Callable[[dict], bool]) -> "MatrixTable":
        """Driver-side predicate over col fields (cols are small);
        entries gathered by the kept indices (MatrixChooseCols M:234)."""
        keep = [i for i, c in enumerate(self._cols) if pred(c)]
        return self.choose_cols(keep)

    def choose_cols(self, indices: list[int]) -> "MatrixTable":
        new_cols = [self._cols[i] for i in indices]
        idx_arr = F.array(*[F.lit(i) for i in indices])
        df = self._df.withColumn(
            ENTRIES,
            F.transform(idx_arr, lambda i: F.element_at(F.col(ENTRIES), i + 1)),
        )
        return MatrixTable(df, self._row_key, new_cols, self._col_key, self._globals)

    def filter_entries(self, f: Callable[[Column], Column], keep: bool = True) -> "MatrixTable":
        """Entry filter ⇒ entry becomes missing (NULL), shape unchanged."""
        def body(e):
            p = f(e) if keep else ~f(e)
            return F.when(F.coalesce(p, F.lit(False)), e)

        return self._with_df(
            self._df.withColumn(ENTRIES, F.transform(F.col(ENTRIES), body))
        )

    def unfilter_entries(self, fill: dict[str, Any]) -> "MatrixTable":
        """Replace missing entries by `fill` struct (ref unfilter_entries)."""
        entry_fields = self._entry_fields()
        filled = F.struct(
            *[F.lit(fill.get(f)).alias(f) for f in entry_fields]
        )
        return self._with_df(
            self._df.withColumn(
                ENTRIES,
                F.transform(F.col(ENTRIES), lambda e: F.coalesce(e, filled)),
            )
        )

    # ------------------------------------------------------------------ #
    # annotations (ref MatrixMapRows M:526 / Cols M:255 / Entries M:396)
    # ------------------------------------------------------------------ #
    def annotate_rows(self, **exprs: Column) -> "MatrixTable":
        return self._with_df(self._df.withColumns(dict(exprs)))

    def annotate_cols(self, f: Callable[[dict], dict]) -> "MatrixTable":
        """Driver-side col annotation (cols are small)."""
        return MatrixTable(
            self._df, self._row_key, [{**c, **f(c)} for c in self._cols],
            self._col_key, self._globals,
        )

    def annotate_entries(self, f: Callable[[Column], Mapping[str, Column]]) -> "MatrixTable":
        """f(entry) → dict of new/updated entry fields. Missing entries
        stay missing (strict semantics)."""
        fields = self._entry_fields()

        def body(e):
            new = f(e)
            kept = [e[fl].alias(fl) for fl in fields if fl not in new]
            added = [c.alias(n) for n, c in new.items()]
            return F.when(e.isNotNull(), F.struct(*kept, *added))

        return self._with_df(
            self._df.withColumn(ENTRIES, F.transform(F.col(ENTRIES), body))
        )

    def annotate_entries_with_cols(
        self, f: Callable[[Column, Column], Mapping[str, Column]]
    ) -> "MatrixTable":
        """f(entry, col_struct) — per-entry expression that also reads
        col fields (zip entries with the broadcast __cols array)."""
        fields = self._entry_fields()
        df = self._attach_cols(self._df)

        def body(e, c):
            new = f(e, c)
            kept = [e[fl].alias(fl) for fl in fields if fl not in new]
            added = [col.alias(n) for n, col in new.items()]
            return F.when(e.isNotNull(), F.struct(*kept, *added))

        df = df.withColumn(
            ENTRIES, F.zip_with(F.col(ENTRIES), F.col(COLS), body)
        ).drop(COLS)
        return self._with_df(df)

    def annotate_globals(self, **vals) -> "MatrixTable":
        g = dict(self._globals)
        g.update(vals)
        return MatrixTable(self._df, self._row_key, self._cols, self._col_key, g)

    def select_globals(self, *names: str) -> "MatrixTable":
        g = {n: self._globals[n] for n in names}
        return MatrixTable(self._df, self._row_key, self._cols, self._col_key, g)

    def transmute_globals(self, **vals) -> "MatrixTable":
        # globals are plain Python values; transmute == replace-by-update
        # with the source keys of renames dropped is indistinguishable from
        # annotate for literal values, so share annotate's semantics
        return self.annotate_globals(**vals)

    # ------------------------------------------------------------------ #
    # select / transmute / rename / drop (ref select/transmute
    # :1634-:2297, rename :3501, drop :2012)
    # ------------------------------------------------------------------ #
    def select_rows(self, *fields: str, **exprs: Column) -> "MatrixTable":
        """Keep row key + named/computed row fields (ref select_rows
        :2063); entries ride along untouched."""
        cols = [F.col(k) for k in self._row_key if k not in fields and k not in exprs]
        cols += [F.col(f) for f in fields]
        cols += [c.alias(n) for n, c in exprs.items()]
        cols.append(F.col(ENTRIES))
        return self._with_df(self._df.select(*cols))

    def select_cols(self, *fields: str) -> "MatrixTable":
        """Keep col key + named col fields (ref select_cols :2143)."""
        keep = set(fields) | set(self._col_key)
        new_cols = [{k: v for k, v in c.items() if k in keep} for c in self._cols]
        return MatrixTable(self._df, self._row_key, new_cols, self._col_key, self._globals)

    def select_entries(self, *fields: str) -> "MatrixTable":
        """Keep only the named entry fields (ref select_entries :1942) —
        one array transform, no shuffle."""
        e = F.col(ENTRIES)
        new = F.transform(
            e,
            lambda x: F.when(
                x.isNotNull(), F.struct(*[x[f].alias(f) for f in fields])
            ),
        )
        return self._with_df(self._df.withColumn(ENTRIES, new))

    def transmute_rows(self, **exprs: Column) -> "MatrixTable":
        """annotate_rows + drop the referenced input row fields (ref
        transmute_rows :2217) — provenance read off the analyzed plan of a
        throwaway select, same as Table.transmute."""
        probe = self._df.select(
            *[c.alias(f"__t{i}") for i, c in enumerate(exprs.values())]
        )
        it = probe._jdf.queryExecution().analyzed().references().iterator()
        referenced = set()
        while it.hasNext():
            referenced.add(it.next().name())
        referenced -= set(self._row_key) | {ENTRIES}
        out = self.annotate_rows(**exprs)
        drop = [c for c in referenced if c not in exprs]
        return out._with_df(out._df.drop(*drop)) if drop else out

    def transmute_cols(self, f) -> "MatrixTable":
        """annotate_cols + drop the col fields f actually read (ref
        transmute_cols :2252): cols are plain dicts, so reads are recorded
        directly."""

        class _Recorder(dict):
            def __init__(self, base):
                super().__init__(base)
                self.read: set = set()

            def __getitem__(self, k):
                self.read.add(k)
                return super().__getitem__(k)

            def get(self, k, default=None):
                self.read.add(k)
                return super().get(k, default)

        new_cols = []
        for c in self._cols:
            rec = _Recorder(c)
            new = f(rec)
            kept = {
                k: v
                for k, v in c.items()
                if k in self._col_key or (k not in rec.read and k not in new)
            }
            new_cols.append({**kept, **new})
        return MatrixTable(self._df, self._row_key, new_cols, self._col_key, self._globals)

    def transmute_entries(self, f, drop: tuple = ()) -> "MatrixTable":
        """annotate_entries + drop (ref transmute_entries :2297).  Struct
        field provenance is invisible to Catalyst's attribute references,
        so fields to remove are listed explicitly via ``drop`` (re-used
        output names replace their inputs automatically, as in annotate)."""
        out = self.annotate_entries(f)
        keep = [fl for fl in out._entry_fields() if fl not in drop]
        return out.select_entries(*keep) if len(keep) != len(out._entry_fields()) else out

    def rename(self, mapping: dict) -> "MatrixTable":
        """Rename row fields / col fields (ref rename :3501)."""
        df = self._df
        rk = list(self._row_key)
        for old, new in mapping.items():
            if old in df.columns:
                df = df.withColumnRenamed(old, new)
                rk = [new if k == old else k for k in rk]
        cols = [
            {mapping.get(k, k): v for k, v in c.items()} for c in self._cols
        ]
        ck = tuple(mapping.get(k, k) for k in self._col_key)
        return MatrixTable(df, tuple(rk), cols, ck, self._globals)

    def drop(self, *fields: str) -> "MatrixTable":
        """Drop row fields or entry fields by name (ref drop :2012)."""
        efields = [f for f in self._entry_fields() if f not in fields]
        out = self
        if len(efields) != len(self._entry_fields()):
            out = out.select_entries(*efields)
        row_drop = [f for f in fields if f in out._df.columns]
        if row_drop:
            out = out._with_df(out._df.drop(*row_drop))
        return out

    def key_rows_by(self, *keys: str) -> "MatrixTable":
        return MatrixTable(self._df, keys, self._cols, self._col_key, self._globals)

    def key_cols_by(self, *keys: str) -> "MatrixTable":
        return MatrixTable(self._df, self._row_key, self._cols, tuple(keys), self._globals)

    # ------------------------------------------------------------------ #
    # aggregation (ref MatrixAggregate*, AggArrayPerElement V:2559;
    # aggregate_rows :2377, aggregate_cols :2323)
    # ------------------------------------------------------------------ #
    def aggregate_entries(self, **aggs: Column) -> dict[str, Any]:
        """Whole-matrix entry aggregation: explode (defined entries) then
        aggregate (ref aggregate_entries)."""
        long = self._df.select(F.explode(ENTRIES).alias("__e")).select("__e.*")
        row = long.agg(*[a.alias(n) for n, a in aggs.items()]).collect()[0]
        return row.asDict(recursive=True)

    def aggregate_rows(self, **aggs: Column) -> dict:
        """Aggregate over row fields (ref aggregate_rows :2377)."""
        row = self._df.drop(ENTRIES).agg(*[a.alias(n) for n, a in aggs.items()]).first()
        return row.asDict(recursive=True)

    def aggregate_cols(self, **aggs: Column) -> dict:
        """Aggregate over col fields (ref aggregate_cols :2323): cols are
        driver-side, so this is a local DataFrame agg — no cluster job on
        the row data."""
        row = self.cols().df.agg(*[a.alias(n) for n, a in aggs.items()]).first()
        return row.asDict(recursive=True)

    def annotate_rows_agg_entries(
        self, f: Callable[[Column], Mapping[str, Column]]
    ) -> "MatrixTable":
        """Row-wise entry aggregation via array HOFs — one pass, no
        explode (the `hl.agg.*` inside annotate_rows path). f receives
        the entries array and returns row-field Columns."""
        new = f(F.col(ENTRIES))
        return self._with_df(self._df.withColumns(dict(new)))

    def aggregate_cols_elementwise(self, sums: Mapping[str, Callable[[Column], Column]]) -> DataFrame:
        """Per-column (sample-wise) aggregation across all rows:
        posexplode + groupBy col index — the scalable path for wide
        aggregations (SURVEY.md §7.3 entry-aggregation note). Returns a
        DataFrame keyed by the col key fields."""
        long = self._df.select(F.posexplode(ENTRIES).alias("__idx", "__e"))
        aggs = [fn(F.col("__e")).alias(name) for name, fn in sums.items()]
        per_idx = long.groupBy("__idx").agg(*aggs)
        col_df = self._cols_frame(before=_col_index(len(self._cols)))
        return (
            F.broadcast(per_idx).join(col_df, on="__idx", how="right")
            .drop("__idx")
        )

    def group_rows_by(self, *exprs: Column | str) -> "GroupedMatrixRows":
        return GroupedMatrixRows(self, list(exprs))

    def group_cols_by(self, *fields: str) -> "GroupedMatrixCols":
        """Group columns by col fields (ref MatrixTable.group_cols_by
        matrixtable.py:704 → MatrixAggregateColsByKey matrix_ir.py:688)."""
        return GroupedMatrixCols(self, list(fields))

    def collect_cols_by_key(self) -> "MatrixTable":
        """Collapse duplicate col keys: entry fields and non-key col
        fields become arrays (ref MatrixCollectColsByKey
        matrix_ir.py:1018). Entry regather is a zero-shuffle array
        projection over the driver-computed index groups."""
        groups: dict[tuple, list[int]] = {}
        for i, c in enumerate(self._cols):
            groups.setdefault(tuple(c[k] for k in self._col_key), []).append(i)
        ordered = list(groups.items())
        entry_fields = self._entry_fields()
        new_entries = F.array(
            *[
                F.struct(
                    *[
                        F.array(
                            *[F.element_at(F.col(ENTRIES), i + 1)[f] for i in idxs]
                        ).alias(f)
                        for f in entry_fields
                    ]
                )
                for _, idxs in ordered
            ]
        )
        df = self._df.withColumn(ENTRIES, new_entries)
        other_fields = [k for k in self._cols[0] if k not in self._col_key] if self._cols else []
        new_cols = [
            {
                **dict(zip(self._col_key, key)),
                **{f: [self._cols[i][f] for i in idxs] for f in other_fields},
            }
            for key, idxs in ordered
        ]
        return MatrixTable(df, self._row_key, new_cols, self._col_key, self._globals)

    def compute_entry_filter_stats(
        self, row_field: str = "entry_stats_row", col_field: str = "entry_stats_col"
    ) -> "MatrixTable":
        """Fraction of filtered (missing) entries per row and per col (ref
        compute_entry_filter_stats :4440).  Row side is one array HOF pass;
        col side one posexplode + per-index hash agg."""
        e = F.col(ENTRIES)
        n = F.size(e)
        n_filt = F.size(F.filter(e, lambda x: x.isNull()))
        out = self.annotate_rows(
            **{
                row_field: F.struct(
                    n_filt.cast("bigint").alias("n_filtered"),
                    (n_filt.cast("double") / n).alias("fraction_filtered"),
                )
            }
        )
        per_idx = {
            r["__idx"]: (r["nf"], r["nt"])
            for r in self._df.select(F.posexplode(e).alias("__idx", "__e"))
            .groupBy("__idx")
            .agg(
                F.count(F.when(F.col("__e").isNull(), 1)).alias("nf"),
                F.count(F.lit(1)).alias("nt"),
            )
            .collect()
        }
        new_cols = [
            {
                **c,
                col_field: {
                    "n_filtered": per_idx.get(i, (0, 0))[0],
                    "fraction_filtered": (
                        per_idx.get(i, (0, 1))[0] / max(per_idx.get(i, (0, 1))[1], 1)
                    ),
                },
            }
            for i, c in enumerate(self._cols)
        ]
        return MatrixTable(out._df, out._row_key, new_cols, out._col_key, out._globals)

    def summarize(self) -> dict:
        """Shape + missingness summary (ref summarize :4743)."""
        e = F.col(ENTRIES)
        row = self._df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.size(F.filter(e, lambda x: x.isNull()))).alias("n_missing"),
            F.sum(F.size(e)).alias("n_entries"),
        ).first()
        return {
            "n_rows": row["n_rows"],
            "n_cols": len(self._cols),
            "n_entries": row["n_entries"],
            "n_missing_entries": row["n_missing"],
            "entry_fields": self._entry_fields(),
        }

    # ------------------------------------------------------------------ #
    # joins (ref matrixtable.py:1535-1683 semi/anti; matrix_ir.py:1097
    # MatrixAnnotateRowsTable)
    # ------------------------------------------------------------------ #
    def distinct_by_row(self) -> "MatrixTable":
        """Keep one row per row key (ref MatrixDistinctByRow
        matrix_ir.py:941; MatrixTable.distinct_by_row matrixtable.py:4054).
        Arbitrary-but-deterministic representative via a single
        hash-aggregate on the row key — struct-min over the remaining
        columns (lexicographic), no window/sort shuffle."""
        others = [c for c in self._df.columns if c not in self._row_key]
        picked = (
            self._df.groupBy(*self._row_key)
            .agg(F.min(F.struct(*[F.col(c) for c in others])).alias("__rest"))
            .select(
                *self._row_key,
                *[F.col("__rest")[c].alias(c) for c in others],
            )
        )
        return self._with_df(picked)

    def distinct_by_col(self) -> "MatrixTable":
        """One column per col key, keeping the first occurrence (ref
        MatrixTable.distinct_by_col matrixtable.py:4088). Cols are
        driver-side; entries re-gather by the kept indices."""
        seen: set = set()
        keep: list[int] = []
        for i, c in enumerate(self._cols):
            k = tuple(c[f] for f in self._col_key)
            if k not in seen:
                seen.add(k)
                keep.append(i)
        return self.choose_cols(keep)

    def explode_rows(self, field: str) -> "MatrixTable":
        """One matrix row per element of a row-field array; empty or
        missing arrays drop the row (ref MatrixExplodeRows
        matrix_ir.py:1220; MatrixTable.explode_rows matrixtable.py:4175).
        Entries are copied unchanged — the column dimension is
        untouched, so this is a pure Generate, no shuffle."""
        if field in self._row_key:
            raise ValueError(f"explode_rows: cannot explode row-key field '{field}'")
        others = [c for c in self._df.columns if c != field]
        df = self._df.select(*others, F.explode(field).alias(field))
        return self._with_df(df)

    def explode_cols(self, field: str) -> "MatrixTable":
        """One column per element of a col-field array (ref
        MatrixExplodeCols matrix_ir.py:1261). Cols are driver-side
        metadata; each row's entry array re-gathers by the source index
        of every exploded column — one array transform, no shuffle."""
        if field in self._col_key:
            raise ValueError(f"explode_cols: cannot explode col-key field '{field}'")
        new_cols: list[dict] = []
        src_idx: list[int] = []
        for i, c in enumerate(self._cols):
            vals = c.get(field)
            if not vals:
                continue  # empty/missing arrays drop the column
            for v in vals:
                nc = dict(c)
                nc[field] = v
                new_cols.append(nc)
                src_idx.append(i)
        if src_idx:
            idx_arr = F.array(*[F.lit(i) for i in src_idx])
            gathered = F.transform(
                idx_arr, lambda i: F.element_at(F.col(ENTRIES), i + 1)
            )
        else:
            gathered = F.slice(F.col(ENTRIES), 1, 0)
        df = self._df.withColumn(ENTRIES, gathered)
        return MatrixTable(df, self._row_key, new_cols, self._col_key, self._globals)

    def semi_join_rows(self, other: Table) -> "MatrixTable":
        """Keep rows whose row key appears in `other` (ref
        MatrixTable.semi_join_rows matrixtable.py:1535). left_semi join —
        Catalyst broadcasts a small right side automatically."""
        n = min(len(self._row_key), len(other.key))
        right = other.df.select(
            *[F.col(rk).alias(lk) for lk, rk in zip(self._row_key[:n], other.key[:n])]
        )
        return self._with_df(
            self._df.join(right, on=list(self._row_key[:n]), how="left_semi")
        )

    def anti_join_rows(self, other: Table) -> "MatrixTable":
        """Drop rows whose row key appears in `other` (ref :1564)."""
        n = min(len(self._row_key), len(other.key))
        right = other.df.select(
            *[F.col(rk).alias(lk) for lk, rk in zip(self._row_key[:n], other.key[:n])]
        )
        return self._with_df(
            self._df.join(right, on=list(self._row_key[:n]), how="left_anti")
        )

    def _col_key_membership(self, other: Table) -> list[int]:
        """Indices of cols whose key appears in `other` — the col
        dimension is driver-side by design, so membership is computed by
        a semi join of the (tiny) col-key frame against the table; only
        n_cols keys ever reach the driver."""
        n = min(len(self._col_key), len(other.key))
        key_fields = list(self._col_key[:n])
        col_df = self._cols_frame(key_fields, _col_index(len(self._cols)))
        right = other.df.select(
            *[F.col(rk).alias(lk) for lk, rk in zip(key_fields, other.key[:n])]
        )
        kept = col_df.join(right, on=key_fields, how="left_semi").select("__idx").collect()
        return sorted(r["__idx"] for r in kept)

    def semi_join_cols(self, other: Table) -> "MatrixTable":
        """Keep cols whose col key appears in `other` (ref :1611)."""
        return self.choose_cols(self._col_key_membership(other))

    def anti_join_cols(self, other: Table) -> "MatrixTable":
        """Drop cols whose col key appears in `other` (ref :1647)."""
        member = set(self._col_key_membership(other))
        return self.choose_cols([i for i in range(len(self._cols)) if i not in member])

    def annotate_rows_table(
        self,
        other: Table,
        interval: tuple[str, str] | None = None,
        point: Column | None = None,
    ) -> "MatrixTable":
        """Join a keyed table's fields onto rows (ref
        MatrixAnnotateRowsTable matrix_ir.py:1097).

        Default: left join against right-distinct on the shared row-key
        prefix (Hail's annotation-join contract: at most one match).

        Interval-aware variant (`interval=('start','end')`, `point` an
        expression over row fields): broadcast containment join, then at
        most one matching interval kept per row (lowest start — a
        deterministic tie-break where Hail keeps the partitioner's first
        match). The window dedup shuffles by row key; with the interval
        side broadcast this is the only shuffle in the plan."""
        if interval is None:
            t = Table(self._df, self._row_key, self._globals)
            joined = t.left_join_right_distinct(other)
            return MatrixTable(
                joined.df, self._row_key, self._cols, self._col_key, self._globals
            )
        from pyspark.sql import Window

        start, end = interval
        rdf = other.df
        cond = (point >= rdf[start]) & (point < rdf[end])
        joined = self._df.join(F.broadcast(rdf), on=cond, how="left")
        w = (
            Window.partitionBy(*[self._df[k] for k in self._row_key])
            .orderBy(F.col(start).asc_nulls_last())
        )
        deduped = (
            joined.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return self._with_df(deduped)

    def annotate_cols_table(self, other: Table) -> "MatrixTable":
        """Join a keyed table's fields onto cols (ref
        MatrixAnnotateColsTable matrix_ir.py:1153). Only the n_cols
        matching rows of `other` are collected (semi join first)."""
        n = min(len(self._col_key), len(other.key))
        key_fields = list(self._col_key[:n])
        col_df = self._cols_frame(key_fields)
        right = other.df
        for lk, rk in zip(key_fields, other.key[:n]):
            if lk != rk:
                right = right.withColumnRenamed(rk, lk)
        matched = right.join(F.broadcast(col_df.distinct()), on=key_fields, how="left_semi")
        lookup = {
            tuple(r[k] for k in key_fields): {
                k: v for k, v in r.asDict().items() if k not in key_fields
            }
            for r in matched.dropDuplicates(key_fields).collect()
        }
        new_fields = set()
        for v in lookup.values():
            new_fields.update(v)
        empty = {f: None for f in sorted(new_fields)}
        new_cols = [
            {**c, **empty, **lookup.get(tuple(c[k] for k in key_fields), {})}
            for c in self._cols
        ]
        return MatrixTable(self._df, self._row_key, new_cols, self._col_key, self._globals)

    def index_rows(self, keys_df: DataFrame, how: str = "left") -> DataFrame:
        """Row-field lookup by external keys (ref index_rows :3063 —
        expression sugar for a key join; here it takes the keys as a
        DataFrame and returns them annotated with the matching row
        fields)."""
        return keys_df.join(self._df.drop(ENTRIES), on=list(self._row_key), how=how)

    def index_cols(self, keys_df: DataFrame, how: str = "left") -> DataFrame:
        """Col-field lookup by external keys (ref index_cols :3187)."""
        return keys_df.join(
            F.broadcast(self.cols().df), on=list(self._col_key), how=how
        )

    def index_entries(self, keys_df: DataFrame, how: str = "left") -> DataFrame:
        """Entry lookup by (row key, col key) pairs (ref index_entries
        :3228): row join + driver-side col-index gather."""
        col_map = {tuple(c[k] for k in self._col_key): i for i, c in enumerate(self._cols)}
        mapping = F.create_map(
            *[
                x
                for key, i in col_map.items()
                for x in (F.lit("\x00".join(map(str, key))), F.lit(i))
            ]
        )
        joined = keys_df.join(self._df, on=list(self._row_key), how=how)
        ck = F.concat_ws("\x00", *[F.col(k).cast("string") for k in self._col_key])
        return joined.withColumn(
            "entry", F.element_at(F.col(ENTRIES), mapping[ck] + 1)
        ).drop(ENTRIES)

    # ------------------------------------------------------------------ #
    # set ops (ref MatrixUnionRows M:862 / MatrixUnionCols M:328)
    # ------------------------------------------------------------------ #
    def union_rows(self, other: "MatrixTable") -> "MatrixTable":
        if [c for c in self._cols] != [c for c in other._cols]:
            raise ValueError("union_rows requires identical cols")
        return self._with_df(self._df.unionByName(other._df))

    def union_cols(self, other: "MatrixTable") -> "MatrixTable":
        """Inner join on row key, concatenate entries arrays."""
        right = other._df.withColumnRenamed(ENTRIES, "__entries_r")
        for lk, rk in zip(self._row_key, other._row_key):
            if lk != rk:
                right = right.withColumnRenamed(rk, lk)
        right = right.select(*self._row_key, "__entries_r")
        df = self._df.join(right, on=list(self._row_key), how="inner")
        df = df.withColumn(ENTRIES, F.concat(F.col(ENTRIES), F.col("__entries_r"))).drop(
            "__entries_r"
        )
        return MatrixTable(
            df, self._row_key, self._cols + other._cols, self._col_key, self._globals
        )

    # ------------------------------------------------------------------ #
    # indices / sampling / head (ref add_row_index :2893, add_col_index
    # :2867, sample_rows :4147, sample_cols :4186, head :3401)
    # ------------------------------------------------------------------ #
    def add_row_index(self, name: str = "row_idx") -> "MatrixTable":
        """Dense 0-based row index in key order (ref add_row_index) — the
        two-pass distributed scan, O(partitions) driver traffic."""
        from .operators import scans

        t = scans.add_index(Table(self._df, self._row_key), name)
        return MatrixTable(t.df, self._row_key, self._cols, self._col_key, self._globals)

    def add_col_index(self, name: str = "col_idx") -> "MatrixTable":
        """Column index (ref add_col_index): col metadata is driver-side."""
        cols = [{**c, name: i} for i, c in enumerate(self._cols)]
        return MatrixTable(self._df, self._row_key, cols, self._col_key, self._globals)

    def sample_rows(self, p: float, seed: int = 0) -> "MatrixTable":
        """Deterministic Bernoulli row sample (ref sample_rows :4147):
        hash-seeded on the row key, so resampling is reproducible across
        partitionings."""
        key_cols = [F.col(k) for k in self._row_key]
        u = (
            F.pmod(F.xxhash64(*key_cols, F.lit(seed)), F.lit(1_000_000)).cast("double")
            / 1_000_000.0
        )
        return self._with_df(self._df.where(u < p))

    def sample_cols(self, p: float, seed: int = 0) -> "MatrixTable":
        """Deterministic Bernoulli column sample (ref sample_cols :4186)."""
        import hashlib

        keep = [
            i
            for i, c in enumerate(self._cols)
            if int.from_bytes(
                hashlib.md5(
                    (str([c[k] for k in self._col_key]) + str(seed)).encode()
                ).digest()[:8],
                "big",
            )
            / 2**64
            < p
        ]
        return self.choose_cols(keep)

    def head(self, n: int | None, n_cols: int | None = None) -> "MatrixTable":
        """First n rows in key order, optionally also the first n_cols
        columns (ref head :3401 — head(n, n_cols))."""
        out = self
        if n is not None:
            ordered = out._df.orderBy(
                *[F.col(k).asc_nulls_last() for k in out._row_key]
            ).limit(n)
            out = out._with_df(ordered)
        if n_cols is not None:
            out = out.choose_cols(list(range(min(n_cols, len(out._cols)))))
        return out

    def tail(self, n: int | None, n_cols: int | None = None) -> "MatrixTable":
        """Last n rows in key order (ref tail :3443)."""
        out = self
        if n is not None:
            spark = out._df.sparkSession
            rows = out._df.orderBy(
                *[F.col(k).asc_nulls_last() for k in out._row_key]
            ).tail(n)
            out = out._with_df(spark.createDataFrame(rows, schema=out._df.schema))
        if n_cols is not None:
            nc = len(out._cols)
            out = out.choose_cols(list(range(max(0, nc - n_cols), nc)))
        return out

    # ------------------------------------------------------------------ #
    # matrix → table (ref localize_entries :1197, make_table :4335)
    # ------------------------------------------------------------------ #
    def localize_entries(
        self, entries_array_field_name: str | None = None, columns_array_field_name: str | None = None
    ) -> "Table":
        """The reference's matrix→table lowering (ref localize_entries
        :1197): rows with the entries ARRAY as a field, cols into globals —
        which is exactly this engine's native representation, so it's a
        rename plus a globals update (zero Spark jobs)."""
        df = self._df
        g = dict(self._globals)
        if entries_array_field_name:
            df = df.withColumnRenamed(ENTRIES, entries_array_field_name)
        else:
            df = df.drop(ENTRIES)
        if columns_array_field_name:
            g[columns_array_field_name] = list(self._cols)
        return Table(df, self._row_key, g)

    def make_table(self, separator: str = ".") -> "Table":
        """Wide table: one column per (sample, entry field), named
        `{sample}{separator}{field}` (ref make_table :4335).  One projection
        over the entries array — no explode, no shuffle."""
        if len(self._col_key) != 1:
            raise ValueError("make_table requires exactly one col key field")
        key_f = self._col_key[0]
        efields = self._entry_fields()
        e = F.col(ENTRIES)
        wide = [
            e[i][fl].alias(f"{c[key_f]}{separator}{fl}" if len(efields) > 1 else f"{c[key_f]}")
            for i, c in enumerate(self._cols)
            for fl in efields
        ]
        df = self._df.select(
            *[c for c in self._df.columns if c != ENTRIES], *wide
        )
        return Table(df, self._row_key, self._globals)

    # ------------------------------------------------------------------ #
    # io / persistence (ref persistence :3598-:3693)
    # ------------------------------------------------------------------ #
    def write(self, path: str, overwrite: bool = False) -> None:
        import json as _json
        import os as _os

        t = Table(self._df, self._row_key, self._globals)
        t.write(path, overwrite=overwrite)
        meta = {
            "name": "hail_spark.MatrixTable",
            "row_key": list(self._row_key),
            "col_key": list(self._col_key),
            "cols": self._cols,
        }
        with open(_os.path.join(path, "_matrix_metadata.json"), "w") as fh:
            _json.dump(meta, fh, default=str)

    @classmethod
    def read(cls, spark: SparkSession, path: str) -> "MatrixTable":
        import json as _json
        import os as _os

        t = Table.read(spark, path)
        with open(_os.path.join(path, "_matrix_metadata.json")) as fh:
            meta = _json.load(fh)
        return cls(t.df, meta["row_key"], meta["cols"], meta["col_key"], t.globals)

    def checkpoint(self, path: str) -> "MatrixTable":
        self.write(path, overwrite=True)
        return MatrixTable.read(self._df.sparkSession, path)

    def n_partitions(self) -> int:
        return self._df.rdd.getNumPartitions()

    def repartition(self, n: int, shuffle: bool = True) -> "MatrixTable":
        return self._with_df(self._df.repartition(n) if shuffle else self._df.coalesce(n))

    def naive_coalesce(self, n: int) -> "MatrixTable":
        return self._with_df(self._df.coalesce(n))

    def persist(self, level: str = "MEMORY_AND_DISK") -> "MatrixTable":
        from pyspark import StorageLevel

        self._df.persist(getattr(StorageLevel, level))
        return self

    def cache(self) -> "MatrixTable":
        return self.persist("MEMORY_ONLY")

    def unpersist(self) -> "MatrixTable":
        self._df.unpersist()
        return self

    # ------------------------------------------------------------------ #
    # display (ref describe :3721, show :2755)
    # ------------------------------------------------------------------ #
    def describe(self) -> None:
        """Print the schema layout (ref describe :3721)."""
        print("Global fields:")
        for k, v in self._globals.items():
            print(f"    '{k}': {type(v).__name__}")
        print("Column fields:")
        for k in (self._cols[0] if self._cols else {}):
            print(f"    '{k}'")
        print("Row fields:")
        for f in self._df.schema.fields:
            if f.name != ENTRIES:
                print(f"    '{f.name}': {f.dataType.simpleString()}")
        print("Entry fields:")
        et = self._df.schema[ENTRIES].dataType.elementType
        for f in et.fields:
            print(f"    '{f.name}': {f.dataType.simpleString()}")
        print(f"Column key: {list(self._col_key)}")
        print(f"Row key: {list(self._row_key)}")

    def show(self, n_rows: int = 10, n_cols: int | None = None) -> None:
        """Print the first rows/cols as the wide per-sample layout (ref
        show :2755)."""
        self.head(n_rows, n_cols).make_table().df.show(n_rows, truncate=False)


class GroupedMatrixCols:
    """mt.group_cols_by(...).aggregate(...) — per-(row, col-group) entry
    aggregation (ref MatrixAggregateColsByKey matrix_ir.py:688).

    Column groups are resolved driver-side (the col dimension is small by
    design), so the aggregate is a pure per-row array projection:
    group g's new entry = agg fn over the sub-array of that row's entries
    at the member indices. ZERO shuffle — where Hail's lowering explodes
    and regroups, a literal index gather keeps the whole thing in one
    narrow stage."""

    def __init__(self, mt: MatrixTable, fields: list[str]):
        self._mt = mt
        self._fields = fields
        groups: dict[tuple, list[int]] = {}
        for i, c in enumerate(mt._cols):
            groups.setdefault(tuple(c[f] for f in fields), []).append(i)
        self._groups = list(groups.items())

    def aggregate(self, **entry_aggs: Callable[[Column], Column]) -> MatrixTable:
        """entry_aggs: name → (array-of-entries column → scalar Column).
        Each fn receives the group's entries sub-array; use array HOFs
        (F.aggregate / F.filter / F.size) to reduce it."""
        mt = self._mt
        new_entries = F.array(
            *[
                F.struct(
                    *[
                        fn(
                            F.array(
                                *[F.element_at(F.col(ENTRIES), i + 1) for i in idxs]
                            )
                        ).alias(name)
                        for name, fn in entry_aggs.items()
                    ]
                )
                for _, idxs in self._groups
            ]
        )
        df = mt._df.withColumn(ENTRIES, new_entries)
        new_cols = [dict(zip(self._fields, key)) for key, _ in self._groups]
        return MatrixTable(df, mt._row_key, new_cols, tuple(self._fields), mt._globals)

    aggregate_entries = aggregate

    def result(self) -> MatrixTable:
        """The reference's aggregate is sugar for aggregate_entries().result()."""
        return self._mt

    def partition_hint(self, n: int) -> "GroupedMatrixCols":
        self._n_partitions = n
        return self

    def describe(self) -> None:
        print(f"grouped {type(self).__name__}: keys={self._fields}")


class GroupedMatrixRows:
    """mt.group_rows_by(...).aggregate(...) — per-group, per-column entry
    aggregation (ref MatrixAggregateRowsByKey M:21)."""

    def __init__(self, mt: MatrixTable, keys: list):
        self._mt = mt
        self._keys = [F.col(k) if isinstance(k, str) else k for k in keys]
        # resolve output names from the projection itself (honors .alias)
        self._names = mt._df.select(*self._keys).columns

    def aggregate(self, **entry_aggs: Callable[[Column], Column]) -> MatrixTable:
        """entry_aggs: name → (entry column → aggregate Column). Explodes
        to (group, col_idx) and re-gathers — per-column-index aggregation
        exactly like Hail's AggArrayPerElement lowering."""
        mt = self._mt
        n = len(mt._cols)
        long = mt._df.select(
            *self._keys, F.posexplode(ENTRIES).alias("__idx", "__e")
        )
        aggs = [fn(F.col("__e")).alias(name) for name, fn in entry_aggs.items()]
        grouped = long.groupBy(*self._names, "__idx").agg(*aggs)
        entry = F.struct(*[F.col(n_) for n_ in entry_aggs])
        gathered = grouped.groupBy(*self._names).agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("__idx"), entry))
            ).alias("__m")
        )
        dense = gathered.select(
            *self._names,
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)), lambda i: F.col("__m")[i]
            ).alias(ENTRIES),
        )
        return MatrixTable(dense, tuple(self._names), mt._cols, mt._col_key, mt._globals)

    aggregate_entries = aggregate

    def result(self) -> MatrixTable:
        """The reference's aggregate is sugar for aggregate_entries().result()."""
        return self._mt

    def partition_hint(self, n: int) -> "GroupedMatrixRows":
        self._n_partitions = n
        return self

    def describe(self) -> None:
        print(f"grouped {type(self).__name__}: keys={self._names}")


def range_matrix_table(
    spark: SparkSession, n_rows: int, n_cols: int, n_partitions: int | None = None
) -> MatrixTable:
    """MatrixTable keyed by row_idx/col_idx with empty entry structs
    (ref hl.utils.range_matrix_table misc.py:310)."""
    df = spark.range(0, n_rows, numPartitions=n_partitions or 8).select(
        F.col("id").cast("int").alias("row_idx")
    )
    df = df.withColumn(ENTRIES, F.array_repeat(F.struct(), n_cols))
    cols = [{"col_idx": j} for j in range(n_cols)]
    return MatrixTable(df, ("row_idx",), cols, ("col_idx",))
