"""IO tests: import_table (+impute), import_lines/grep, BED/FAM, VCF
round-trip. Mirrors the reference's impex tests
(hail/python/test/hail/methods/test_impex.py) on synthetic fixtures."""

import datetime
import textwrap

import pytest
from pyspark.sql import functions as F

from hail_spark.io import (
    export_vcf,
    grep,
    import_bed,
    import_fam,
    import_lines,
    import_table,
    import_vcf,
)

VCF = textwrap.dedent(
    """\
    ##fileformat=VCFv4.2
    ##INFO=<ID=AC,Number=A,Type=Integer,Description="alt allele count">
    ##INFO=<ID=AF,Number=A,Type=Float,Description="alt allele freq">
    ##INFO=<ID=DB,Number=0,Type=Flag,Description="in dbSNP">
    ##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">
    ##FORMAT=<ID=DP,Number=1,Type=Integer,Description="depth">
    ##FORMAT=<ID=AD,Number=R,Type=Integer,Description="allele depths">
    #CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1\tNA2\tNA3
    1\t100\trs1\tA\tT\t50.0\tPASS\tAC=3;AF=0.5;DB\tGT:DP:AD\t0/1:10:6,4\t1|1:12:0,12\t0/0:8:8,0
    1\t200\t.\tG\tC,T\t.\tq10\tAC=2,1;AF=0.33,0.17\tGT:DP\t1/2:9\t0/1:.\t./.
    2\t300\trs3\tTTT\tT\t99.0\t.\tAC=1;AF=0.17\tGT\t0/0\t0/1\t0|0
    """
)

TSV = textwrap.dedent(
    """\
    id\tscore\tflag\tname\tbig
    1\t1.5\ttrue\talice\t3000000000
    2\tNA\tfalse\tbob\t4
    3\t2.25\ttrue\tNA\t5
    """
)


@pytest.fixture(scope="module")
def vcf_path(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("io") / "test.vcf"
    p.write_text(VCF)
    return str(p)


@pytest.fixture(scope="module")
def tsv_path(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("io") / "test.tsv"
    p.write_text(TSV)
    return str(p)


def test_import_table_impute(spark, tsv_path):
    t = import_table(spark, tsv_path, impute=True, key=("id",))
    sch = dict(zip(t.df.columns, [f.dataType.simpleString() for f in t.df.schema.fields]))
    assert sch == {
        "id": "int",
        "score": "double",
        "flag": "boolean",
        "name": "string",
        "big": "bigint",
    }
    rows = {r["id"]: r for r in t.df.collect()}
    assert rows[2]["score"] is None  # NA -> missing
    assert rows[3]["name"] is None
    assert rows[1]["big"] == 3000000000


def test_import_table_explicit_types(spark, tsv_path):
    t = import_table(spark, tsv_path, types={"id": "bigint"})
    assert dict(zip(t.df.columns, [f.dataType.simpleString() for f in t.df.schema.fields]))[
        "id"
    ] == "bigint"
    assert t.df.schema["score"].dataType.simpleString() == "string"


def test_import_lines_grep(spark, tsv_path):
    t = import_lines(spark, tsv_path)
    assert t.df.columns == ["text"]
    assert t.df.count() == 4
    assert grep(spark, r"ali", tsv_path) == ["1\t1.5\ttrue\talice\t3000000000"]


def test_import_bed(spark, tmp_path):
    p = tmp_path / "t.bed"
    p.write_text("1\t99\t200\tfoo\n2\t5\t10\tbar\n")
    t = import_bed(spark, str(p))
    r = sorted(t.df.collect(), key=lambda r: r["interval"]["start"]["contig"])
    assert r[0]["interval"]["start"]["position"] == 100  # 0-based -> 1-based
    assert r[0]["interval"]["end"]["position"] == 201
    assert r[0]["interval"]["includes_end"] is False
    assert r[0]["target"] == "foo"


def test_import_fam(spark, tmp_path):
    p = tmp_path / "t.fam"
    p.write_text("f1 kid dad mom 2 2\nf1 dad 0 0 1 1\nf1 mom 0 0 2 -9\n")
    t = import_fam(spark, str(p))
    rows = {r["id"]: r for r in t.df.collect()}
    assert rows["kid"]["pat_id"] == "dad" and rows["kid"]["is_female"] is True
    assert rows["dad"]["pat_id"] is None and rows["dad"]["is_case"] is False
    assert rows["mom"]["is_case"] is None


def test_import_vcf_schema_and_rows(spark, vcf_path):
    mt = import_vcf(spark, vcf_path)
    assert mt.count() == (3, 3)
    assert [c["s"] for c in mt._cols] == ["NA1", "NA2", "NA3"]
    rows = {r["locus"]["position"]: r for r in mt._df.collect()}
    r100 = rows[100]
    assert r100["alleles"] == ["A", "T"]
    assert r100["rsid"] == "rs1" and r100["qual"] == 50.0
    assert r100["filters"] == []  # PASS
    assert r100["info"]["AC"] == [3] and r100["info"]["DB"] is True
    assert abs(r100["info"]["AF"][0] - 0.5) < 1e-9
    e = r100["__entries"]
    assert [x["GT"] for x in e] == [1, 2, 0]
    assert e[0]["AD"] == [6, 4] and e[0]["DP"] == 10
    assert e[1]["phased"] is True
    # multiallelic + missing handling
    r200 = rows[200]
    assert r200["alleles"] == ["G", "C", "T"]
    assert r200["qual"] is None and r200["filters"] == ["q10"]
    e2 = r200["__entries"]
    assert e2[0]["GT"] == 2 and e2[0]["GTA"] == [1, 2]
    assert e2[1]["DP"] is None  # '.' field
    assert e2[2]["GT"] is None and e2[2]["GTA"] is None  # ./. call
    assert rows[300]["info"]["DB"] is False


def test_vcf_roundtrip(spark, vcf_path, tmp_path):
    mt = import_vcf(spark, vcf_path)
    out = str(tmp_path / "out.vcf")
    export_vcf(mt, out)
    mt2 = import_vcf(spark, out)
    assert mt2.count() == (3, 3)
    a = mt._df.select(
        "locus", "alleles", F.col("__entries").getField("GT").alias("gts")
    ).collect()
    b = mt2._df.select(
        "locus", "alleles", F.col("__entries").getField("GT").alias("gts")
    ).collect()
    key = lambda r: (r["locus"]["contig"], r["locus"]["position"])  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def _vcf_text(samples: list[str], lines: list[str], fmt_col: bool = True) -> str:
    cols = ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO"]
    cols += ["FORMAT", *samples] if fmt_col else []
    head = ["##fileformat=VCFv4.2", "\t".join(cols)]
    return "\n".join(head + lines) + "\n"


def test_import_vcf_plan_size_independent_of_samples(spark, tmp_path):
    """The sample columns parse through one lambda, so the analyzed
    plan does not grow with the cohort."""

    def plan_len(n):
        p = tmp_path / f"s{n}.vcf"
        line = "1\t100\t.\tA\tT\t.\t.\t.\tGT:DP\t" + "\t".join(["0/1:5"] * n)
        p.write_text(_vcf_text([f"S{i}" for i in range(n)], [line]))
        mt = import_vcf(spark, str(p))
        assert mt.count_cols() == n
        return len(mt._df._jdf.queryExecution().analyzed().toString())

    small, large = plan_len(3), plan_len(300)
    assert large <= 2 * small, (small, large)


def test_import_vcf_sites_only(spark, tmp_path):
    p = tmp_path / "sites.vcf"
    p.write_text(
        _vcf_text(
            [],
            ["1\t10\trs1\tA\tC\t5\tPASS\t.", "1\t20\t.\tG\tT,C\t.\tq10\t."],
            fmt_col=False,
        )
    )
    mt = import_vcf(spark, str(p))
    assert mt.count_cols() == 0
    rows = sorted(mt._df.collect(), key=lambda r: r["locus"]["position"])
    assert [tuple(r["locus"]) for r in rows] == [("1", 10), ("1", 20)]
    assert [r["alleles"] for r in rows] == [["A", "C"], ["G", "T", "C"]]
    assert [r["rsid"] for r in rows] == ["rs1", None]
    assert [r["qual"] for r in rows] == [5.0, None]
    assert [r["filters"] for r in rows] == [[], ["q10"]]
    assert [r["__entries"] for r in rows] == [[], []]


def test_import_vcf_truncated_sample_fields(spark, tmp_path):
    """Samples may drop trailing FORMAT fields; the missing ones are
    NULL, and FORMAT order is per row."""
    p = tmp_path / "trunc.vcf"
    p.write_text(
        _vcf_text(
            ["A", "B"],
            [
                "1\t10\t.\tA\tC\t.\t.\t.\tGT:AD:DP:GQ:PL\t0|1:3,4:7\t1/1:0,9:9:40:90,9,0",
                "1\t20\t.\tA\tC\t.\t.\t.\tDP:GT\t5:0/0\t.",
            ],
        )
    )
    rows = sorted(import_vcf(spark, str(p))._df.collect(), key=lambda r: r["locus"]["position"])
    a, b = (e.asDict() for e in rows[0]["__entries"])
    assert a == {"GT": 1, "GTA": [0, 1], "phased": True, "AD": [3, 4], "DP": 7, "GQ": None, "PL": None}
    assert b == {"GT": 2, "GTA": [1, 1], "phased": False, "AD": [0, 9], "DP": 9, "GQ": 40, "PL": [90, 9, 0]}
    a, b = (e.asDict() for e in rows[1]["__entries"])
    assert (a["GT"], a["DP"], a["AD"]) == (0, 5, None)
    assert b == dict.fromkeys(b, None)


def test_import_vcf_short_data_line_fails(spark, tmp_path):
    """A data line with fewer sample columns than the header is
    malformed: the parse fails rather than yielding missing entries."""
    p = tmp_path / "short.vcf"
    p.write_text(
        _vcf_text(["A", "B"], ["1\t10\t.\tA\tC\t.\t.\t.\tGT\t0/1"])
    )
    mt = import_vcf(spark, str(p))
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        mt._df.collect()


# key column from an even integer v (each key on two rows), and the
# same mapping for Python-side probes
_QT_KEYS = {
    "int64": (lambda v: v, lambda v: v),
    "int32": (lambda v: v.cast("int"), lambda v: v),
    # every 25th key pair is null (nulls sort last)
    "string": (
        lambda v: F.when(v % 50 == 24, None).otherwise(F.format_string("k%05d", v)),
        lambda v: f"k{v:05d}",
    ),
    "date": (
        lambda v: F.date_add(F.lit(datetime.date(2000, 1, 1)), v.cast("int")),
        lambda v: datetime.date(2000, 1, 1) + datetime.timedelta(days=v),
    ),
    "double": (lambda v: v / 4.0, lambda v: v / 4.0),
}


@pytest.mark.parametrize("layout", ["multi_file", "multi_row_group"])
@pytest.mark.parametrize("ktype", list(_QT_KEYS))
def test_query_table_point_and_range(spark, tmp_path, ktype, layout):
    """Point and interval lookups equal a Spark filter on the source for
    every key type, across file and row-group boundaries."""
    from hail_spark.io.query_table import query_table, table_stats
    from hail_spark.table import Table

    to_col, to_key = _QT_KEYS[ktype]
    n = 3000
    v = F.col("id") - F.col("id") % 2
    src = spark.range(n).select(to_col(v).alias("k"), (F.col("id") * 3).alias("p"))
    # multi_file: one file per shuffle partition, so AQE must not
    # coalesce the small write; multi_row_group: AQE coalesces it into
    # few files, each cut into row groups of at most 400 rows
    conf = (
        {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
        if layout == "multi_file"
        else {"parquet.block.row.count.limit": "400"}
    )
    old = {c: spark.conf.get(c, None) for c in conf}
    p = str(tmp_path / "t")
    try:
        for c, val in conf.items():
            spark.conf.set(c, val)
        Table.from_spark(src, key=("k",)).write(p)
    finally:
        for c, val in old.items():
            if val is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, val)
    st = table_stats(p)
    assert st["key"] == ["k"] and st["n_rows"] == n
    if layout == "multi_file":
        assert st["n_files"] >= 3
    else:
        assert st["n_row_groups"] >= 3 * st["n_files"]

    def want(lo, hi):
        rows = src.filter((F.col("k") >= F.lit(lo)) & (F.col("k") <= F.lit(hi))).collect()
        return sorted((r["k"], r["p"]) for r in rows)

    def got(**probe):
        rows = query_table(p, **probe)
        assert all(set(r) == {"k", "p"} for r in rows)
        return sorted((r["k"], r["p"]) for r in rows)

    # present: first, middle and last key; absent: odd values and
    # values outside the key range
    for x in (0, 1000, n - 2, 1, 1001, n + 100):
        k = to_key(x)
        assert got(point=k) == want(k, k), (ktype, layout, x)
    assert len(got(point=to_key(1000))) == 2 and got(point=to_key(1001)) == []
    # intervals spanning each of the first two file or row-group
    # boundaries, one with absent endpoints, and the whole key range
    keys = sorted({r["k"] for r in src.select("k").collect() if r["k"] is not None})
    for lo_b, hi_b in st["key_bounds"][:2]:
        i = keys.index(hi_b)
        lo, hi = keys[i - 3], keys[i + 3]
        res = got(interval=(lo, hi))
        assert res == want(lo, hi) and res[0][0] <= hi_b < res[-1][0], (ktype, layout, lo, hi)
    lo, hi = to_key(1001), to_key(1501)
    assert got(interval=(lo, hi)) == want(lo, hi)
    assert got(interval=(keys[0], keys[-1])) == want(keys[0], keys[-1])
    with pytest.raises(ValueError):
        query_table(p)


def test_query_table_key_after_nested_column(spark, tmp_path):
    """Parquet statistics are per LEAF column: with a struct before the
    key, the key's top-level index names a leaf of the struct. Bounds
    must come from the key's own leaf."""
    from hail_spark.io.query_table import query_table, table_stats
    from hail_spark.table import Table

    df = spark.range(200).select(
        F.struct(F.col("id").cast("int").alias("a"), (F.col("id") + 1000).cast("int").alias("b")).alias("info"),
        F.col("id").cast("int").alias("k"),
    )
    p = str(tmp_path / "nested_first")
    Table.from_spark(df, key=("k",)).write(p)
    rows = query_table(p, point=5)
    assert rows == [{"info": {"a": 5, "b": 1005}, "k": 5}]
    assert sorted(r["k"] for r in query_table(p, interval=(10, 14))) == [10, 11, 12, 13, 14]
    bounds = table_stats(p)["key_bounds"]
    assert bounds and min(b[0] for b in bounds) == 0 and max(b[1] for b in bounds) == 199


def test_plink_roundtrip(spark, tmp_path):
    import numpy as np
    from hail_spark.io.plink import export_plink, import_plink
    from hail_spark.io import import_vcf

    rng = np.random.default_rng(5)
    nv, ns = 33, 10  # ns not divisible by 4 → ragged last byte
    G = rng.integers(-1, 3, size=(nv, ns))  # -1 → missing
    gmap = {-1: "./.", 0: "0/0", 1: "0/1", 2: "1/1"}
    vcf = tmp_path / "p.vcf"
    with open(vcf, "w") as f:
        f.write("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
                + "\t".join(f"S{j}" for j in range(ns)) + "\n")
        for i in range(nv):
            f.write(f"{1+i%2}\t{100+i}\t.\tA\tC\t.\t.\t.\tGT\t"
                    + "\t".join(gmap[int(g)] for g in G[i]) + "\n")
    mt = import_vcf(spark, str(vcf))
    base = str(tmp_path / "pl")
    export_plink(mt, base)
    mt2 = import_plink(spark, base + ".bed", n_partitions=3)
    assert mt2.count() == (nv, ns)
    assert [c["s"] for c in mt2._cols] == [f"S{j}" for j in range(ns)]
    got = {
        (r["locus"]["contig"], r["locus"]["position"]): [e["GT"] if e else None for e in r["__entries"]]
        for r in mt2._df.collect()
    }
    for i in range(nv):
        want = [None if G[i, j] < 0 else int(G[i, j]) for j in range(ns)]
        assert got[(str(1 + i % 2), 100 + i)] == want, i
    # corrupted magic
    bad = tmp_path / "bad.bed"
    bad.write_bytes(b"xxx" + b"\x00" * 10)
    (tmp_path / "bad.bim").write_text("1 v 0 1 A C\n")
    (tmp_path / "bad.fam").write_text("0 s 0 0 0 -9\n")
    with pytest.raises(ValueError, match="SNP-major"):
        import_plink(spark, str(bad))


def test_export_elasticsearch_gate(spark):
    """Without the es-hadoop jar the sink falls back to the REST _bulk
    path (exercised against a live stub in
    test_export_elasticsearch_rest_fallback); with no server listening
    either, the failure is the fallback's connection error — not
    Spark's opaque ClassNotFound."""
    from hail_spark.io import export_elasticsearch

    df = spark.createDataFrame([{"a": 1}])
    with pytest.raises(Exception, match="(?i)connection refused|urlopen"):
        export_elasticsearch(df, "localhost", 9209, "idx", verbose=False)


def test_query_matrix_table_rows(spark, tmp_path):
    from hail_spark.io.query_table import matrix_table_cols, query_matrix_table_rows
    from hail_spark.matrixtable import MatrixTable

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    long = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["n"]
    )
    p = str(tmp_path / "events_mt")
    mt.write(p)
    cols = matrix_table_cols(p)
    assert [c["event_type"] for c in cols] == sorted(c["event_type"] for c in cols)
    rows = query_matrix_table_rows(p, interval=(5, 25), entries_name="ent")
    assert rows and all(5 <= r["user_id"] <= 25 for r in rows)
    # entries align with cols and match a spark-side replay
    want = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in long.filter(
            (F.col("user_id") >= 5) & (F.col("user_id") <= 25)
        ).collect()
    }
    got = {}
    for r in rows:
        assert len(r["ent"]) == len(cols)
        for c, ent in zip(cols, r["ent"]):
            if ent is not None and ent["n"] is not None:
                got[(r["user_id"], c["event_type"])] = ent["n"]
    assert got == want
    # point probe + entries_name rename
    uid = rows[0]["user_id"]
    pt = query_matrix_table_rows(p, point=uid)
    assert len(pt) == 1 and "entries" in pt[0]


def test_query_matrix_table_rows_rejects_struct_key(spark, tmp_path, vcf_path):
    """A VCF-imported MatrixTable is keyed by the ``locus`` struct, which
    a scalar key range cannot order: the lookup names the field and its
    type instead of failing inside the row filter."""
    from hail_spark.io.query_table import query_matrix_table_rows

    p = str(tmp_path / "vcf_mt")
    import_vcf(spark, vcf_path).write(p)
    with pytest.raises(ValueError, match=r"'locus' has non-scalar type struct<contig: string, position: int"):
        query_matrix_table_rows(p, point={"contig": "1", "position": 100})


def test_import_avro_pure_python_fallback(spark, tmp_path):
    # jar absent in this container -> exercises the io/avro.py decoder
    # end to end (distributed mapInPandas per-file decode)
    from hail_spark.io.avro import read_avro_file, write_avro_file
    from hail_spark.io.impex import import_avro

    schema = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "score", "type": "double"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "props", "type": {"type": "map", "values": "int"}},
            {
                "name": "kind",
                "type": {"type": "enum", "name": "K", "symbols": ["A", "B"]},
            },
        ],
    }
    rows1 = [
        {"id": 1, "name": "x", "score": 1.5, "tags": ["a", "b"], "props": {"p": 1}, "kind": "A"},
        {"id": 2, "name": None, "score": -2.0, "tags": [], "props": {}, "kind": "B"},
    ]
    rows2 = [
        {"id": 3, "name": "z", "score": 0.25, "tags": ["c"], "props": {"q": 7}, "kind": "A"},
    ]
    d = tmp_path / "avro"
    d.mkdir()
    write_avro_file(str(d / "part-0.avro"), schema, rows1, codec="null")
    write_avro_file(str(d / "part-1.avro"), schema, rows2, codec="deflate")
    # codec round-trip sanity without Spark
    _, rt = read_avro_file(str(d / "part-1.avro"))
    assert rt == rows2

    t = import_avro(spark, str(d))
    got = sorted([r.asDict(recursive=True) for r in t.df.collect()], key=lambda r: r["id"])
    want = sorted(rows1 + rows2, key=lambda r: r["id"])
    assert got == want


def test_export_elasticsearch_rest_fallback(spark):
    # jar absent -> the REST _bulk fallback posts ndjson from executors;
    # verified against an in-process HTTP stub
    import http.server
    import json
    import threading

    from hail_spark.io.impex import export_elasticsearch

    captured = []

    class Stub(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers["Content-Length"])
            captured.append(self.rfile.read(n).decode("utf-8"))
            body = json.dumps({"errors": False, "items": []}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Stub)
    port = srv.server_address[1]
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "body"]
        ).repartition(2)
        export_elasticsearch(df, "127.0.0.1", port, "docs", block_size=2, verbose=False)
    finally:
        srv.shutdown()
    lines = [ln for req in captured for ln in req.strip().split("\n")]
    actions = [json.loads(l) for l in lines[0::2]]
    docs = [json.loads(l) for l in lines[1::2]]
    assert all(a == {"index": {"_index": "docs"}} for a in actions)
    assert sorted(d["doc_id"] for d in docs) == [1, 2, 3]


def test_import_table_line_level_filter_and_find_replace(spark, tmp_path):
    """ADVICE r03: filter and find_replace apply to the raw LINE before
    tokenization (ref impex.py:1548) — a regex can span fields and a
    replacement can CHANGE tokenization (here: turning a semicolon into
    the tab delimiter adds a field)."""
    from hail_spark.io.impex import import_table

    p = tmp_path / "t.tsv"
    p.write_text(
        "a\tb\tc\n"
        "1\tx;y\tkeep\n"      # ; becomes a tab -> 4 tokens, c shifts
        "2\tfoo\tdropme\n"    # filter spans the whole line
        "3\tbar\tkeep\n"
    )
    # filter matches across the tab boundary (line-level regex)
    t = import_table(
        spark, str(p), filter="2\tfoo", find_replace=(";", "\t")
    )
    rows = sorted(t.df.collect(), key=lambda r: r["a"])
    assert [r["a"] for r in rows] == ["1", "3"]
    # row 1 re-tokenized: b='x', c='y' (the old c pushed off the schema)
    assert rows[0]["b"] == "x" and rows[0]["c"] == "y"
    assert rows[1]["b"] == "bar" and rows[1]["c"] == "keep"


def test_jsonl_round_trip_preserves_values(spark, tmp_path):
    from hail_spark.io.impex import export_jsonl, import_jsonl

    rows = [
        (1, "plain ascii", "en"),
        (2, 'quotes " and \\ backslash and\nnewline', "en"),
        (3, "unicode: café 中文 \U0001f600", "zh"),
        (4, None, None),
        (5, "", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    path = str(tmp_path / "docs_jsonl")
    export_jsonl(df, path, n_files=2)
    back = import_jsonl(spark, path, schema="doc_id bigint, text string, lang string").df
    got = {r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()}
    for doc_id, text, lang in rows:
        assert got[doc_id] == (text, lang)
    # inference path (no schema) also resolves the columns
    inferred = import_jsonl(spark, path).df
    assert set(inferred.columns) == {"doc_id", "text", "lang"}
