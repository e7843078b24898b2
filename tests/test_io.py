"""Unit tests for sources/sinks/streaming plumbing not exercised by the
oracle-parity suite (grid windowing combos, Excel gate, upsert merge
rules, quarantine routing)."""

from __future__ import annotations

import glob
import os
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dig_etl_engine_spark.sinks import kg_table
from dig_etl_engine_spark.sources.tabular import TabularSpec, _grid_to_df

GRID = [
    ["junk", "", ""],
    ["a", "b", "c"],
    ["1", "2", "3"],
    ["4", "", "6"],
    ["", "", ""],
    ["7", "8", "9"],
]


class TestGridWindowing:
    def test_defaults_take_all(self, spark):
        spec = TabularSpec(heading_row=2, content_start_row=3)
        df = _grid_to_df(spark, GRID, spec)
        assert df.columns == ["a", "b", "c"]
        # blank row skipped (not terminal) without blank_row_ends_content
        assert [tuple(r) for r in df.collect()] == [
            ("1", "2", "3"), ("4", "", "6"), ("7", "8", "9")]

    def test_blank_row_terminates(self, spark):
        spec = TabularSpec(heading_row=2, content_start_row=3,
                           blank_row_ends_content=True)
        assert _grid_to_df(spark, GRID, spec).count() == 2

    def test_content_end_row_inclusive(self, spark):
        spec = TabularSpec(heading_row=2, content_start_row=3,
                           content_end_row=3)
        assert [tuple(r) for r in _grid_to_df(spark, GRID, spec).collect()] \
            == [("1", "2", "3")]

    def test_column_window_synthetic_headers(self, spark):
        spec = TabularSpec(heading_row=2, content_start_row=3,
                           content_end_row=4, heading_columns=(2, 3))
        df = _grid_to_df(spark, GRID, spec)
        assert df.columns == ["2", "3"]
        assert [tuple(r) for r in df.collect()] == [("2", "3"), ("", "6")]

    def test_ragged_short_rows_pad_empty(self, spark, tmp_path):
        """A content row with fewer cells than the heading width pads with
        '' (reference `dig_tabular_import.py:185-197`) — and must not throw
        under ANSI mode (try-semantics field access, not element_at)."""
        from dig_etl_engine_spark.sources.tabular import read_tabular
        p = tmp_path / "ragged.csv"
        p.write_text("a,b,c\n1,2,3\n4,5\n6\n")
        df = read_tabular(spark, str(p), TabularSpec())
        assert [tuple(r) for r in df.collect()] == [
            ("1", "2", "3"), ("4", "5", ""), ("6", "", "")]

    def test_quoted_fields_keep_delimiter(self, spark, tmp_path):
        """CSV quoting: a quoted field containing the delimiter is ONE
        cell (real CSV parse, not naive split)."""
        from dig_etl_engine_spark.sources.tabular import read_tabular
        p = tmp_path / "quoted.csv"
        p.write_text('name,title\n"Smith, John",engineer\nplain,boss\n')
        df = read_tabular(spark, str(p), TabularSpec())
        assert [tuple(r) for r in df.collect()] == [
            ("Smith, John", "engineer"), ("plain", "boss")]

    def test_regex_meta_separator_is_literal(self, spark, tmp_path):
        """A separator like '|' is a literal, not a regex alternation."""
        from dig_etl_engine_spark.sources.tabular import read_tabular
        p = tmp_path / "pipe.csv"
        p.write_text("x|y\n1|2\n")
        df = read_tabular(spark, str(p), TabularSpec(sep="|"))
        assert df.columns == ["x", "y"]
        assert [tuple(r) for r in df.collect()] == [("1", "2")]

    def test_xls_corrupt_raises_clearly(self, spark, tmp_path):
        """Legacy .xls now parses via the stdlib BIFF8 reader
        (test_xls_reader.py); a truncated/corrupt container must raise a
        clear format error, not crash obscurely."""
        from dig_etl_engine_spark.sources.tabular import read_excel
        p = tmp_path / "x.xls"
        p.write_bytes(b"\xd0\xcf\x11\xe0 not a real compound file")
        with pytest.raises(ValueError):
            read_excel(spark, str(p))


class TestXlsx:
    def test_roundtrip_multi_sheet(self, tmp_path):
        from dig_etl_engine_spark.sources.xlsx import (
            read_xlsx_grid, write_xlsx)
        p = str(tmp_path / "book.xlsx")
        s1 = [["a", "b"], ["1", "x,y"], ["2", "<tag> & \"q\""]]
        s2 = [["only"], ["sheet2"]]
        write_xlsx(p, [s1, s2], sheet_names=["First", "Second"])
        assert read_xlsx_grid(p, 1) == s1
        assert read_xlsx_grid(p, 2) == s2
        with pytest.raises(ValueError):
            read_xlsx_grid(p, 3)

    def test_sparse_cells_pad_empty(self, tmp_path):
        """Missing cells (sparse OOXML rows reference only populated
        cells) come back as '' in a dense grid."""
        import zipfile
        from dig_etl_engine_spark.sources.xlsx import (
            read_xlsx_grid, write_xlsx)
        p = str(tmp_path / "sparse.xlsx")
        write_xlsx(p, [["a", "b", "c"], ["1", "2", "3"]])
        # rewrite the sheet with row 2 holding only column C
        with zipfile.ZipFile(p) as zf:
            parts = {n: zf.read(n) for n in zf.namelist()}
        sheet = parts["xl/worksheets/sheet1.xml"].decode()
        sheet = sheet.replace(
            '<row r="2"><c r="A2" t="inlineStr"><is><t>1</t></is></c>'
            '<c r="B2" t="inlineStr"><is><t>2</t></is></c>'
            '<c r="C2" t="inlineStr"><is><t>3</t></is></c></row>',
            '<row r="2"><c r="C2" t="inlineStr"><is><t>3</t></is></c></row>')
        parts["xl/worksheets/sheet1.xml"] = sheet.encode()
        with zipfile.ZipFile(p, "w") as zf:
            for n, data in parts.items():
                zf.writestr(n, data)
        assert read_xlsx_grid(p, 1) == [["a", "b", "c"], ["", "", "3"]]

    def test_shared_strings_and_numbers(self, tmp_path):
        """Grids written by real producers use sharedStrings + numeric
        cells; both read back as strings (reference: all-string cells,
        auto-detect off)."""
        import zipfile
        from dig_etl_engine_spark.sources.xlsx import (
            read_xlsx_grid, write_xlsx)
        p = str(tmp_path / "ss.xlsx")
        write_xlsx(p, [["placeholder"]])
        with zipfile.ZipFile(p) as zf:
            parts = {n: zf.read(n) for n in zf.namelist()}
        ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        parts["xl/sharedStrings.xml"] = (
            f'<?xml version="1.0"?><sst xmlns="{ns}">'
            '<si><t>hello</t></si><si><r><t>wor</t></r><r><t>ld</t></r>'
            '</si></sst>').encode()
        parts["xl/worksheets/sheet1.xml"] = (
            f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c>'
            '<c r="B1" t="s"><v>1</v></c>'
            '<c r="C1"><v>3.25</v></c>'
            '<c r="D1" t="b"><v>1</v></c></row>'
            '</sheetData></worksheet>').encode()
        with zipfile.ZipFile(p, "w") as zf:
            for n, data in parts.items():
                zf.writestr(n, data)
        assert read_xlsx_grid(p, 1) == [["hello", "world", "3.25", "TRUE"]]

    def test_read_excel_windowed(self, spark, tmp_path):
        from dig_etl_engine_spark.sources.tabular import (
            TabularSpec, read_excel)
        from dig_etl_engine_spark.sources.xlsx import write_xlsx
        p = str(tmp_path / "win.xlsx")
        write_xlsx(p, [["junk"], ["a", "b"], ["1", "2"], ["3", "4"],
                       ["trailer", "x"]])
        spec = TabularSpec(heading_row=2, content_start_row=3,
                           content_end_row=4)
        df = read_excel(spark, p, spec)
        assert df.columns == ["a", "b"]
        assert [tuple(r) for r in df.collect()] == [("1", "2"), ("3", "4")]

    def test_timeseries_excel_entry(self, tmp_path):
        """S9's Excel entry parses .xlsx via the stdlib reader —
        sheet_indices select the annotated sheet (1-based spec) within
        the workbook, decoy sheet ignored."""
        from dig_etl_engine_spark.timeseries.spreadsheet import (
            extract_spreadsheet)
        from dig_etl_engine_spark.sources.xlsx import write_xlsx
        p = str(tmp_path / "ts.xlsx")
        decoy = [["nothing", "here"]]
        data = [["Prices", "", ""],
                ["", "2020", "2021"],
                ["alpha", "1", "2"],
                ["beta", "3", "4"]]
        write_xlsx(p, [decoy, data], sheet_names=["Decoy", "Data"])
        annotation = {
            "Properties": {"sheet_indices": "[2]"},
            "GlobalMetadata": [
                {"source": "const", "name": "dataset", "val": "t"}],
            "TimeSeriesRegions": [{
                "orientation": "row",
                "rows": "[3:4]",
                "locs": "[B:C]",
                "metadata": [
                    {"source": "col", "loc": "[A]", "name": "name"}],
                "times": {"locs": "[2]"},
            }],
        }
        parsed = extract_spreadsheet(p, [annotation])
        got = {s["metadata"]["name"]: s["ts"] for s in parsed}
        assert got == {"alpha": [("2020", "1"), ("2021", "2")],
                       "beta": [("2020", "3"), ("2021", "4")]}


class TestUpsert:
    SCHEMA = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("kafka_offset", T.LongType()),
        T.StructField("v", T.StringType()),
    ])

    def test_create_if_not_exists_idempotent(self, spark, tmp_path):
        p = str(tmp_path / "t")
        assert kg_table.create_table_if_not_exists(spark, p, self.SCHEMA)
        assert not kg_table.create_table_if_not_exists(spark, p, self.SCHEMA)
        assert spark.read.parquet(p).count() == 0

    def test_seed_read_schema_identical_to_spark_write(
            self, spark, tmp_path):
        """r12: the bootstrap seed is written on the driver (pyarrow +
        the Spark row-metadata footer key), not by a Spark job. The
        contract that makes that safe: reading the seeded table must
        restore EXACTLY the schema an empty-DataFrame Spark write would
        have pinned — across nullability, nested and temporal/decimal
        types — because the first upsert aligns batches to it."""
        cases = {
            "flat": self.SCHEMA,
            "nonnull": T.StructType([
                T.StructField("a", T.LongType(), False),
                T.StructField("b", T.StringType(), True)]),
            "nested": T.StructType([
                T.StructField("arr", T.ArrayType(T.StringType())),
                T.StructField("st", T.StructType(
                    [T.StructField("x", T.IntegerType())])),
                T.StructField("m", T.MapType(T.StringType(),
                                             T.DoubleType()))]),
            "temporal": T.StructType([
                T.StructField("t", T.TimestampType()),
                T.StructField("d", T.DateType()),
                T.StructField("dec", T.DecimalType(18, 4)),
                T.StructField("bin", T.BinaryType()),
                T.StructField("f", T.FloatType()),
                T.StructField("i", T.IntegerType()),
                T.StructField("bo", T.BooleanType())]),
        }
        for name, sch in cases.items():
            seeded = str(tmp_path / f"{name}_seed")
            sparkw = str(tmp_path / f"{name}_spark")
            assert kg_table.create_table_if_not_exists(spark, seeded, sch)
            # the DRIVER path must have run, not the Spark fallback —
            # otherwise this test compares a Spark write against a Spark
            # write and the optimization it pins could be silently dead
            # (e.g. a pyarrow upgrade breaking to_arrow_schema)
            assert os.path.exists(os.path.join(
                seeded, "part-00000-seed.snappy.parquet")), name
            spark.createDataFrame([], sch).write.parquet(sparkw)
            got = spark.read.parquet(seeded)
            assert got.schema == spark.read.parquet(sparkw).schema, name
            assert got.count() == 0, name

    def test_seed_rejects_null_type_up_front(self, spark, tmp_path):
        """The seed must not be WIDER than the Spark writer it replaces:
        pyarrow happily writes a void column Spark can never write to,
        so NullType anywhere in the schema must raise before anything
        touches disk — recursively, including nested positions."""
        nested_nulls = [
            T.StructType([T.StructField("x", T.NullType())]),
            T.StructType([T.StructField(
                "a", T.ArrayType(T.NullType()))]),
            T.StructType([T.StructField(
                "m", T.MapType(T.StringType(), T.NullType()))]),
            T.StructType([T.StructField("s", T.StructType(
                [T.StructField("inner", T.NullType())]))]),
        ]
        for sch in nested_nulls:
            assert kg_table._contains_null_type(sch), sch
            with pytest.raises(ValueError, match="void column"):
                kg_table._write_empty_seed(str(tmp_path / "void"), sch)
            assert not os.path.exists(str(tmp_path / "void"))
        assert not kg_table._contains_null_type(self.SCHEMA)

    def test_seed_refuses_to_delete_marker_dirs(self, tmp_path):
        """_write_empty_seed must never rmtree a dir carrying any
        committed-table marker — the refusal that keeps a creation race
        from destroying the winner's table."""
        for marker, is_dir in [("x.parquet", False), ("_SUCCESS", False),
                               ("_kb=00000", True),
                               (kg_table._MANIFEST, False)]:
            p = str(tmp_path / f"t_{marker.replace('=', '_')}")
            os.makedirs(p)
            if is_dir:
                os.makedirs(os.path.join(p, marker))
            else:
                with open(os.path.join(p, marker), "w") as fh:
                    fh.write("keep me")
            with pytest.raises(FileExistsError):
                kg_table._write_empty_seed(p, self.SCHEMA)
            assert os.path.exists(os.path.join(p, marker)), marker

    def test_seed_lost_race_returns_false_keeps_winner(
            self, spark, tmp_path, monkeypatch):
        """If the seed fails AND a table now exists (an out-of-band
        creator won), create_table_if_not_exists must report 'not
        created' and leave the winner's table alone — never fall into
        the destructive Spark overwrite."""
        p = str(tmp_path / "t")

        def winner_then_fail(path, schema):
            os.makedirs(path)
            with open(os.path.join(path, "part-w.parquet"), "w") as fh:
                fh.write("winner's data")
            raise RuntimeError("simulated lost race")

        monkeypatch.setattr(kg_table, "_write_empty_seed",
                            winner_then_fail)
        assert not kg_table.create_table_if_not_exists(
            spark, p, self.SCHEMA)
        with open(os.path.join(p, "part-w.parquet")) as fh:
            assert fh.read() == "winner's data"

    def test_seed_sweeps_stale_staging(self, spark, tmp_path):
        """A crashed predecessor's .__seed__* staging dir is reclaimed
        at entry (under the table lock) instead of leaking forever."""
        p = str(tmp_path / "t")
        stale = p + ".__seed__deadbeef"
        os.makedirs(stale)
        with open(os.path.join(stale, "junk.parquet"), "w") as fh:
            fh.write("junk")
        assert kg_table.create_table_if_not_exists(spark, p, self.SCHEMA)
        assert not os.path.exists(stale)
        assert spark.read.parquet(p).count() == 0

    def test_last_write_wins_across_batches(self, spark, tmp_path):
        p = str(tmp_path / "t")
        b1 = spark.createDataFrame(
            [("a", 1, "old"), ("b", 2, "keep")], self.SCHEMA)
        b2 = spark.createDataFrame(
            [("a", 10, "new"), ("c", 3, "add")], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, b1, buckets=4)
        kg_table.upsert_partitioned(spark, p, b2, buckets=4)
        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got == {"a": (10, "new"), "b": (2, "keep"), "c": (3, "add")}

    def test_stale_replay_does_not_regress(self, spark, tmp_path):
        # merge outcome is a pure function of (key, order): replaying an
        # old batch after a newer write must not clobber it
        p = str(tmp_path / "t")
        new = spark.createDataFrame([("a", 10, "new")], self.SCHEMA)
        old = spark.createDataFrame([("a", 1, "old")], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, new, buckets=4)
        kg_table.upsert_partitioned(spark, p, old, buckets=4)
        assert kg_table.read_partitioned(spark, p).collect()[0].v == "new"

    def test_within_batch_dedupe(self, spark, tmp_path):
        p = str(tmp_path / "t")
        b = spark.createDataFrame(
            [("a", 1, "x"), ("a", 5, "y"), ("a", 3, "z")], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, b, buckets=4)
        rows = kg_table.read_partitioned(spark, p).collect()
        assert len(rows) == 1 and rows[0].v == "y"

    def test_partitioned_upsert_mixed_key_widths_merge(
            self, spark, tmp_path):
        """A batch whose key column arrives NARROWER than the original
        writer's (INT vs BIGINT) must bucket the same logical keys into
        the same _kb= dirs — xxhash64 hashes the two widths differently,
        so without the canonical widening in _bucket_expr the merge
        reads the wrong partitions and keeps BOTH rows per key (the r7
        bloom review finding, same class)."""
        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 1, "base") for i in range(40)],
            "doc_id long, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, base, buckets=8)
        batch = spark.createDataFrame(
            [(0, 10, "new"), (99, 2, "add")],
            "doc_id int, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, batch, buckets=8)
        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got[0] == (10, "new")     # updated, not duplicated
        assert got[99] == (2, "add")
        assert len(got) == 41

    def test_partitioned_upsert_stray_flat_files_mixed_width(
            self, spark, tmp_path):
        """Flat rows (an older build's flat table, written directly
        here) with INT keys folded into a LONG-keyed partitioned batch:
        the stray frame must get a
        bucket expression built from ITS OWN dtype (r8 review — the
        batch-derived expression would hash the stray column unwidened
        into the wrong partition), so the same logical key collapses to
        one row."""
        p = str(tmp_path / "t")
        flat = spark.createDataFrame(
            [(0, 1, "flat"), (7, 1, "flat")],
            "doc_id int, kafka_offset long, v string")
        flat.write.parquet(p)                # flat root layout
        batch = spark.createDataFrame(
            [(0, 10, "new"), (5, 2, "add")],
            "doc_id long, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, batch, buckets=8)
        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got[0] == (10, "new")     # migrated + updated, one row
        assert got[7] == (1, "flat")     # migrated untouched
        assert got[5] == (2, "add")
        assert len(got) == 3
        # and a later NARROW batch still merges against the same layout
        b2 = spark.createDataFrame(
            [(7, 9, "upd")], "doc_id int, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, b2, buckets=8)
        got2 = {r.doc_id: r.v
                for r in kg_table.read_partitioned(spark, p).collect()}
        assert got2[7] == "upd" and len(got2) == 3

    def test_partitioned_upsert_rejects_cross_family_keys(
            self, spark, tmp_path):
        """String batch keys against a bigint-keyed table: the union
        would silently coerce to string while the bucket hashes diverge
        — must refuse loudly (same class the bloom join rejects)."""
        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 1, "base") for i in range(10)],
            "doc_id long, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, base, buckets=4)
        bad = spark.createDataFrame(
            [("3", 9, "boom")], "doc_id string, kafka_offset long, v string")
        with pytest.raises(ValueError, match="hash-agree"):
            kg_table.upsert_partitioned(spark, p, bad, buckets=4)

    def test_partitioned_upsert_touches_only_batch_partitions(
            self, spark, tmp_path, monkeypatch):
        """A fold (here every upsert folds) rewrites only the
        hash-bucket partitions containing batch keys — untouched
        partition dirs keep their exact files."""
        import glob
        monkeypatch.setattr(kg_table, "_MAX_DELTAS", 1)
        p = str(tmp_path / "t")
        keys = [f"k{i}" for i in range(40)]
        base = spark.createDataFrame(
            [(k, 1, "base") for k in keys], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, base, buckets=8)

        # snapshot the manifest's live dir (and its exact files) per
        # bucket before the second batch
        live_before = dict(kg_table._load_manifest(p)["live"])
        files_before = {n: sorted(glob.glob(f"{p}/{d}/*.parquet"))
                        for n, d in live_before.items()}
        batch = spark.createDataFrame(
            [("k0", 10, "new"), ("zz", 2, "add"), ("k1", 0, "stale")],
            self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, batch, buckets=8)

        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got["k0"] == (10, "new")      # updated
        assert got["k1"] == (1, "base")      # stale replay ignored
        assert got["zz"] == (2, "add")       # inserted
        assert len(got) == 41
        # every untouched bucket keeps its exact epoch dir and files;
        # every touched bucket moved to a NEW epoch dir
        from pyspark.sql import functions as F
        touched = {r[0] for r in batch.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")).collect()}
        live_after = kg_table._load_manifest(p)["live"]
        untouched = [n for n in live_before if n not in touched]
        assert untouched, "test needs at least one untouched bucket"
        for n in untouched:
            assert live_after[n] == live_before[n]
            assert sorted(glob.glob(f"{p}/{live_after[n]}/*.parquet")) \
                == files_before[n]
        for n in touched & set(live_before):
            assert live_after[n] != live_before[n]


class TestStreamingIngest:
    def test_quarantine_and_upsert(self, spark, tmp_path):
        from dig_etl_engine_spark.streaming.ingest import (
            file_stream_source, run_ingest)

        schema = TestUpsert.SCHEMA
        src_dir = str(tmp_path / "in")
        df = spark.createDataFrame(
            [("a", 1, "v1"), ("a", 2, "v2"), ("", 3, "bad"),
             (None, 4, "bad2"), ("b", 5, "v5")], schema)
        df.coalesce(1).write.json(src_dir)

        target = str(tmp_path / "kg")
        quarantine = str(tmp_path / "bad")
        q = run_ingest(file_stream_source(spark, src_dir, schema),
                       target_path=target, quarantine_path=quarantine,
                       checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination()

        got = {r.doc_id: r.v for r in
               kg_table.read_partitioned(spark, target).collect()}
        assert got == {"a": "v2", "b": "v5"}
        # streaming default is the partitioned merge: manifest-routed
        # bucketed layout only, no flat files at the root
        assert kg_table._MANIFEST in os.listdir(target)
        assert kg_table._load_manifest(target)["live"]
        assert not any(f.endswith(".parquet") for f in os.listdir(target))
        bad = spark.read.parquet(quarantine)
        assert bad.count() == 2
        assert set(bad.select("_quarantine_reason").distinct()
                   .toPandas()["_quarantine_reason"]) == {"missing doc_id"}

    def test_quarantine_retry_is_idempotent(self, spark, tmp_path):
        """Replaying a micro-batch must not duplicate quarantine rows:
        the write lands in its own _batch_id partition via dynamic
        overwrite."""
        from dig_etl_engine_spark.streaming.ingest import write_quarantine
        schema = TestUpsert.SCHEMA
        bad = spark.createDataFrame([("", 3, "bad"), (None, 4, "bad2")],
                                    schema)
        qdir = str(tmp_path / "bad")
        write_quarantine(bad, 7, qdir)
        write_quarantine(bad, 7, qdir)          # retry of the same batch
        assert spark.read.parquet(qdir).count() == 2
        write_quarantine(bad.limit(1), 8, qdir)  # a different batch appends
        assert spark.read.parquet(qdir).count() == 3

    def test_flat_table_migrates_to_bucketed(self, spark, tmp_path):
        """upsert_partitioned over a flat table that holds rows (an
        older build's table, written directly here) folds the flat rows
        in and converges the layout to manifest-routed bucket dirs."""
        p = str(tmp_path / "t")
        schema = TestUpsert.SCHEMA
        spark.createDataFrame(
            [("a", 1, "old"), ("b", 2, "keep")], schema).write.parquet(p)
        kg_table.upsert_partitioned(spark, p, spark.createDataFrame(
            [("a", 10, "new"), ("c", 3, "add")], schema), buckets=8)
        got = {r.doc_id: (r.kafka_offset, r.v)
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got == {"a": (10, "new"), "b": (2, "keep"), "c": (3, "add")}
        assert not any(f.endswith(".parquet") for f in os.listdir(p))

    def test_stateful_first_seen_dedup_across_runs(self, spark, tmp_path):
        """applyInPandasWithState first-seen dedup: within a run the
        min-order row per fingerprint wins; a second run against the same
        checkpoint resumes the state store, so fingerprints emitted in run
        1 stay suppressed and only genuinely new ones come out."""
        from pyspark.sql import types as T
        from dig_etl_engine_spark.streaming.ingest import file_stream_source
        from dig_etl_engine_spark.streaming.stateful import (
            run_first_seen_dedup)

        schema = T.StructType([
            T.StructField("fp", T.StringType()),
            T.StructField("off", T.LongType()),
            T.StructField("v", T.StringType()),
        ])
        out_schema = "fp string, off long, v string"
        src_dir = str(tmp_path / "in")
        target, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        spark.createDataFrame(
            [("a", 3, "a3"), ("a", 1, "a1"), ("b", 2, "b2")],
            schema).coalesce(1).write.json(src_dir)
        q = run_first_seen_dedup(
            file_stream_source(spark, src_dir, schema), target_path=target,
            checkpoint_dir=ckpt, fingerprint_col="fp", order_col="off",
            output_schema=out_schema)
        q.awaitTermination()
        got = {r.fp: (r.off, r.v) for r in spark.read.parquet(target).collect()}
        assert got == {"a": (1, "a1"), "b": (2, "b2")}

        # second run: duplicates of a/b plus a new fingerprint c
        spark.createDataFrame(
            [("a", 9, "a9"), ("b", 8, "b8"), ("c", 7, "c7")],
            schema).coalesce(1).write.mode("append").json(src_dir)
        q = run_first_seen_dedup(
            file_stream_source(spark, src_dir, schema), target_path=target,
            checkpoint_dir=ckpt, fingerprint_col="fp", order_col="off",
            output_schema=out_schema)
        q.awaitTermination()
        got = {r.fp: (r.off, r.v) for r in spark.read.parquet(target).collect()}
        assert got == {"a": (1, "a1"), "b": (2, "b2"), "c": (7, "c7")}

    def test_windowed_agg_watermark_finalization(self, spark, tmp_path):
        """Event-time windows finalize exactly when the watermark (max
        event time − delay) passes their end — availableNow drains with a
        flush batch, so every window closed by the final watermark is
        emitted, and still-open windows are not."""
        import json
        from pyspark.sql import types as T
        from dig_etl_engine_spark.streaming.ingest import (
            file_stream_source, run_windowed_counts)

        schema = T.StructType([
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ])
        src = tmp_path / "in"; src.mkdir()
        target, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        def drop(name, rows):
            with open(src / name, "w") as fh:
                for ts, et, v in rows:
                    fh.write(json.dumps(
                        {"ts": ts, "event_type": et, "value": v}) + "\n")

        def run():
            q = run_windowed_counts(
                file_stream_source(spark, str(src), schema),
                target_path=target, checkpoint_dir=ckpt)
            q.awaitTermination()

        day1 = [(f"2024-01-01T0{h}:00:00", "click", 1.5) for h in range(4)]
        day2 = [("2024-01-02T12:00:00", "click", 2.0),
                ("2024-01-02T13:00:00", "view", 3.0)]
        drop("a.json", day1 + day2)
        run()     # watermark 01-02T12:00 closes the day-1 window

        drop("b.json", [("2024-01-03T02:00:00", "click", 1.0)])
        run()     # watermark 01-03T01:00 closes both day-2 windows

        drop("c.json", [("2024-01-04T23:00:00", "click", 1.0)])
        run()     # watermark 01-04T22:00 closes day-3; day-4 stays open

        got = {(str(r.window_start)[:10], r.event_type):
               (r.n_events, r.sum_value)
               for r in spark.read.parquet(target).collect()}
        assert got == {("2024-01-01", "click"): (4, 6.0),
                       ("2024-01-02", "click"): (1, 2.0),
                       ("2024-01-02", "view"): (1, 3.0),
                       ("2024-01-03", "click"): (1, 1.0)}

    def test_dedup_ingest_suppresses_near_dups_across_batches(
            self, spark, tmp_path):
        """run_dedup_ingest end-to-end from a cold start: batch-internal
        near-dups collapse to the min-id doc, later batches' docs similar
        to ANY earlier content are suppressed via the persisted index,
        invalid docs quarantine, and unique docs flow through."""
        import json
        from pyspark.sql import types as T
        from dig_etl_engine_spark.operators.dedup import (
            materialize_minhash_index)
        from dig_etl_engine_spark.sinks.kg_table import read_partitioned
        from dig_etl_engine_spark.streaming.ingest import (
            file_stream_source, run_dedup_ingest)

        base = ("the quick brown fox jumps over the lazy dog while rain "
                "in spain falls mainly on the plain every day")
        other = ("entirely different text about submarine volcanoes "
                 "hydrothermal vents bathymetry and oceanic plates")
        schema = T.StructType([
            T.StructField("doc_id", T.StringType()),
            T.StructField("kafka_offset", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
        src = tmp_path / "in"; src.mkdir()
        target, quarantine = str(tmp_path / "kg"), str(tmp_path / "q")
        ckpt, idx = str(tmp_path / "ckpt"), str(tmp_path / "mh")

        # cold start: index materialized over an EMPTY corpus
        materialize_minhash_index(
            spark.createDataFrame([], "doc_id string, text string"),
            "text", idx)

        def drop(name, rows):
            with open(src / name, "w") as fh:
                for d, o, t in rows:
                    fh.write(json.dumps(
                        {"doc_id": d, "kafka_offset": o, "text": t}) + "\n")

        def run():
            q = run_dedup_ingest(
                file_stream_source(spark, str(src), schema),
                target_path=target, quarantine_path=quarantine,
                checkpoint_dir=ckpt, index_path=idx,
                threshold=0.5, buckets=4)
            q.awaitTermination()

        drop("a.json", [("a", 1, base),
                        ("b", 2, base + " extra tail"),   # near-dup of a
                        (None, 3, "orphan doc")])
        run()
        got = {r.doc_id for r in read_partitioned(spark, target).collect()}
        assert got == {"a"}                       # b collapsed into a
        assert spark.read.parquet(quarantine).count() == 1

        # d repeats b's exact text: b was DROPPED in batch 1, but the
        # index records dropped docs too, so d still collides (with both
        # a's and b's signatures) and is suppressed
        drop("b.json", [("d", 4, base + " extra tail"),
                        ("e", 5, other)])                    # unique
        run()
        got = {r.doc_id for r in read_partitioned(spark, target).collect()}
        assert got == {"a", "e"}                  # d suppressed via index

    def test_session_windows_merge_and_finalize(self, spark, tmp_path):
        """Streaming sessionization via native session_window: dynamic-gap
        sessions MERGE when a late-but-inside-watermark event bridges two
        open sessions, and finalize (append mode) only once the watermark
        passes session end. The merge is the semantics worth pinning — a
        batch-style gap rule applied per micro-batch would emit two
        sessions for the bridged key."""
        import json
        from pyspark.sql import types as T
        from dig_etl_engine_spark.streaming.ingest import (
            file_stream_source, run_session_windows)

        schema = T.StructType([
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ])
        src = tmp_path / "in"; src.mkdir()
        target, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        def drop(name, rows):
            with open(src / name, "w") as fh:
                for ts, u in rows:
                    fh.write(json.dumps(
                        {"ts": ts, "user_id": u, "value": 1.0}) + "\n")

        def run():
            q = run_session_windows(
                file_stream_source(spark, str(src), schema),
                target_path=target, checkpoint_dir=ckpt)
            q.awaitTermination()

        # u2's two events sit 40 min apart — two open sessions until the
        # 10:20 bridge arrives in the NEXT batch (above the 10:00
        # watermark, so accepted) and merges them
        drop("a.json", [("2024-01-01T10:00:00", "u1"),
                        ("2024-01-01T10:10:00", "u1"),
                        ("2024-01-01T10:00:00", "u2"),
                        ("2024-01-01T10:40:00", "u2"),
                        ("2024-01-01T11:00:00", "clk")])
        run()     # watermark 10:00 — nothing finalized yet
        assert spark.read.schema(
            "session_start timestamp, session_end timestamp, "
            "user_id string, n_events long, sum_value double"
        ).parquet(target).count() == 0

        drop("b.json", [("2024-01-01T10:20:00", "u2"),   # bridges u2
                        ("2024-01-01T12:30:00", "u1"),   # new open session
                        ("2024-01-01T13:00:00", "clk")])
        run()     # watermark 12:00 finalizes everything ending before it

        got = {(r.user_id, str(r.session_start)[11:16],
                str(r.session_end)[11:16]): r.n_events
               for r in spark.read.parquet(target).collect()}
        assert got == {
            ("u1", "10:00", "10:40"): 2,
            ("u2", "10:00", "11:10"): 3,     # ONE merged session of 3
            ("clk", "11:00", "11:30"): 1,
        }

    def test_kafka_builders_construct(self, spark):
        # no broker in the container: assert the gated builders produce
        # configured writer objects without starting anything
        from dig_etl_engine_spark.sinks.kafka import to_kafka_batch
        df = spark.createDataFrame([("a", "x")], ["doc_id", "payload"])
        w = to_kafka_batch(df, bootstrap_servers="b:9092", topic="t_out")
        assert w is not None


class TestScratchReuse:
    def test_scratch_detaches_previous_fixture_off_path(self):
        """Repeated `_scratch(name)` calls (a bench harness runs one
        query 5x) must return a FRESH empty dir each time without paying
        the previous fixture's teardown inline: the old dir is renamed
        aside in O(1) and reclaimed by a background thread (r10 verdict
        item 3 — timed runs should measure the pipeline, not directory
        churn)."""
        import time as _time

        from dig_etl_engine_spark import queries_io as qio

        p1 = qio._scratch("scratch_reuse_test")
        marker = os.path.join(p1, "state")
        os.makedirs(os.path.join(p1, "ck"), exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("x")
        p2 = qio._scratch("scratch_reuse_test")
        assert p2 == p1
        assert os.path.isdir(p2) and not os.listdir(p2)  # fresh & empty
        # the old fixture is gone from the live path immediately and the
        # aside copy disappears shortly after (background reaper)
        deadline = _time.monotonic() + 10
        while _time.monotonic() < deadline:
            asides = [n for n in os.listdir(qio._SCRATCH)
                      if n.startswith("scratch_reuse_test.reap-")]
            if not asides:
                break
            _time.sleep(0.05)
        assert not asides, f"aside dirs never reaped: {asides}"


class TestCompaction:
    def test_compact_fragmented_buckets(self, spark, tmp_path):
        """A bucket fragmented into many small files (the accumulation
        pattern of per-batch appends) compacts to one file with data
        identical; tidy buckets are untouched."""
        import glob
        import shutil
        p = str(tmp_path / "t")
        schema = TestUpsert.SCHEMA
        b = spark.createDataFrame(
            [(f"k{i}", i, "base") for i in range(40)], schema)
        kg_table.upsert_partitioned(spark, p, b, buckets=4)
        before = {r.doc_id: (r.kafka_offset, r.v)
                  for r in kg_table.read_partitioned(spark, p).collect()}

        # fragment one bucket: rewrite its live dir's rows as 3 files
        live = kg_table._load_manifest(p)["live"]
        n0 = sorted(live)[0]
        d0 = os.path.join(p, live[n0])
        rows = spark.read.parquet(d0).collect()
        assert len(rows) >= 3
        shutil.rmtree(d0)
        for i in range(3):
            chunk = rows[i::3]
            spark.createDataFrame(chunk, schema) \
                .coalesce(1).write.mode("append").parquet(d0)
        assert len(glob.glob(f"{d0}/*.parquet")) == 3
        tidy_files = {n: sorted(glob.glob(f"{p}/{d}/*.parquet"))
                      for n, d in live.items() if n != n0}

        assert kg_table.compact_partitioned(spark, p) == 1
        live_after = kg_table._load_manifest(p)["live"]
        # the fragmented bucket republished under a NEW epoch dir with
        # one file; tidy buckets keep their exact dirs and files
        assert live_after[n0] != live[n0]
        assert len(glob.glob(f"{p}/{live_after[n0]}/*.parquet")) == 1
        for n, files in tidy_files.items():
            assert live_after[n] == live[n]
            assert sorted(glob.glob(f"{p}/{live[n]}/*.parquet")) == files
        after = {r.doc_id: (r.kafka_offset, r.v)
                 for r in kg_table.read_partitioned(spark, p).collect()}
        assert after == before

    def test_compact_noop_when_tidy(self, spark, tmp_path):
        p = str(tmp_path / "t")
        b = spark.createDataFrame([("a", 1, "x")], TestUpsert.SCHEMA)
        kg_table.upsert_partitioned(spark, p, b, buckets=2)
        assert kg_table.compact_partitioned(spark, p) == 0

    def test_compact_crash_litter_invisible_and_swept(self, spark, tmp_path):
        """A crashed compaction's epoch dir (hidden, never referenced by
        the manifest) must be invisible to readers and swept by the
        next compaction run."""
        import os
        p = str(tmp_path / "t")
        b = spark.createDataFrame(
            [(f"k{i}", i, "base") for i in range(10)], TestUpsert.SCHEMA)
        kg_table.upsert_partitioned(spark, p, b, buckets=2)
        before = {r.doc_id for r in
                  kg_table.read_partitioned(spark, p).collect()}

        # simulate a crash mid-compaction: an unreferenced epoch dir
        # with bogus data — and no swept-gen sidecar, because every
        # real mutating writer unlinks it BEFORE staging new on-disk
        # state (a clean sidecar with litter present is only reachable
        # by hand-edits, which the fast path documents as out of
        # contract)
        stale = os.path.join(p, ".kbe_0_deadbeef")
        spark.createDataFrame([("ghost", 99, "x")], TestUpsert.SCHEMA) \
            .coalesce(1).write.parquet(stale)
        kg_table._invalidate_swept_gen(p)
        got = {r.doc_id for r in
               kg_table.read_partitioned(spark, p).collect()}
        assert got == before            # litter invisible to readers

        assert kg_table.compact_partitioned(spark, p) == 0
        assert not os.path.exists(stale)           # swept
        after = {r.doc_id for r in
                 kg_table.read_partitioned(spark, p).collect()}
        assert after == before

    def test_compact_completes_interrupted_swap(self, spark, tmp_path,
                                                monkeypatch):
        """A compaction killed at its manifest flip leaves the table
        serving its exact pre-compaction state plus an unreferenced
        epoch dir. The next run must sweep the orphan and FINISH the
        compaction, with data identical."""
        import shutil
        p = str(tmp_path / "t")
        b = spark.createDataFrame(
            [(f"k{i}", i, "base") for i in range(10)], TestUpsert.SCHEMA)
        kg_table.upsert_partitioned(spark, p, b, buckets=2)
        before = {r.doc_id for r in
                  kg_table.read_partitioned(spark, p).collect()}
        live = kg_table._load_manifest(p)["live"]
        d0 = os.path.join(p, live[sorted(live)[0]])
        frag = d0 + "__frag"
        spark.read.parquet(d0).repartition(3).write.parquet(frag)
        shutil.rmtree(d0)
        os.rename(frag, d0)
        gen = kg_table._load_manifest(p)["gen"]

        def crash(*a, **kw):
            raise RuntimeError("killed at the manifest flip")

        with monkeypatch.context() as mp:
            mp.setattr(kg_table, "commit_pointer", crash)
            with pytest.raises(RuntimeError, match="manifest flip"):
                kg_table.compact_partitioned(spark, p, min_files=2)
        assert kg_table._load_manifest(p)["gen"] == gen   # not applied
        assert kg_table._load_manifest(p)["live"] == live
        orphans = set(os.listdir(p)) - set(live.values()) - {
            kg_table._MANIFEST, kg_table._NAIVE_READ_GUARD}
        assert any(n.startswith(".kbe_") for n in orphans), orphans

        assert kg_table.compact_partitioned(spark, p, min_files=2) == 1
        assert kg_table._load_manifest(p)["gen"] == gen + 1
        m = kg_table._load_manifest(p)
        assert {n for n in os.listdir(p) if n.startswith(".kbe_")} \
            == kg_table._referenced_dirs(m)              # orphan swept
        after = {r.doc_id for r in
                 kg_table.read_partitioned(spark, p).collect()}
        assert after == before


class TestWebdataset:
    def _docs(self, spark, n=40, parts=1):
        rows = [(i, f"text body {i}", "en", f"s{i % 3}") for i in range(n)]
        return spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING, source STRING") \
            .repartition(parts)

    def test_roundtrip_and_manifest(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        docs = self._docs(spark)
        man = write_webdataset(docs, str(tmp_path / "wd"),
                               meta_cols=["lang", "source"],
                               n_shards=4).collect()
        assert sum(r["n_docs"] for r in man) == 40
        assert {r["shard"] for r in man} <= set(range(4))
        back = read_webdataset(spark, str(tmp_path / "wd"))
        got = {int(r["key"]): (r["text"], r["meta"])
               for r in back.collect()}
        assert len(got) == 40
        import json as _json
        assert got[7][0] == "text body 7"
        assert _json.loads(got[7][1]) == {"lang": "en", "source": "s1"}

    def test_shard_bytes_reproducible_across_partitionings(
            self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import write_webdataset
        import hashlib
        digests = []
        for i, parts in enumerate((1, 7)):
            p = str(tmp_path / f"wd{i}")
            write_webdataset(self._docs(spark, parts=parts), p,
                             meta_cols=["lang"], n_shards=4).collect()
            import os as _os
            digests.append({
                f: hashlib.md5(open(_os.path.join(p, f), "rb").read())
                .hexdigest() for f in sorted(_os.listdir(p))})
        assert digests[0] == digests[1]
        assert len(digests[0]) == 4

    def test_empty_and_null_text(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        df = spark.createDataFrame(
            [(1, None, "en", "s"), (2, "", "en", "s")],
            "doc_id LONG, text STRING, lang STRING, source STRING")
        write_webdataset(df, str(tmp_path / "wd"), meta_cols=["lang"],
                         n_shards=2).collect()
        back = {int(r["key"]): r["text"] for r in read_webdataset(
            spark, str(tmp_path / "wd")).collect()}
        # NULL → member omitted → NULL again; '' stays '' — the round
        # trip distinguishes them instead of collapsing both to ''
        assert back == {1: None, 2: ""}

    def test_binary_members_roundtrip(self, spark, tmp_path):
        """Multimodal payload path: a binary column rides as
        {key}.jpg members; NULL payload → member omitted."""
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        df = spark.createDataFrame(
            [(1, "cap one", bytearray(b"\xff\xd8fakejpeg1")),
             (2, "cap two", bytearray(b"\xff\xd8fakejpeg2")),
             (3, "no image", None)],
            "doc_id LONG, text STRING, img BINARY")
        write_webdataset(df, str(tmp_path / "wd"), bin_col="img",
                         bin_ext="jpg", n_shards=2).collect()
        back = {int(r["key"]): (r["text"],
                                {k: bytes(v) for k, v in r["bins"].items()}
                                if r["bins"] is not None else None)
                for r in read_webdataset(spark,
                                         str(tmp_path / "wd")).collect()}
        assert back[1] == ("cap one", {"jpg": b"\xff\xd8fakejpeg1"})
        assert back[2] == ("cap two", {"jpg": b"\xff\xd8fakejpeg2"})
        assert back[3] == ("no image", None)

    def test_reexport_clears_stale_shards(self, spark, tmp_path):
        """Shrinking the shard count must not leave old tars for the
        reader's glob to pick up."""
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        p = str(tmp_path / "wd")
        write_webdataset(self._docs(spark, 40), p, meta_cols=["lang"],
                         n_shards=16).collect()
        write_webdataset(self._docs(spark, 10), p, meta_cols=["lang"],
                         n_shards=2).collect()
        back = read_webdataset(spark, p).collect()
        assert len(back) == 10
        assert {int(r["key"]) for r in back} == set(range(10))

    def test_null_id_raises_clearly(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import write_webdataset
        import pytest as _pytest
        df = spark.createDataFrame(
            [(1, "a", "en", "s"), (None, "b", "en", "s")],
            "doc_id LONG, text STRING, lang STRING, source STRING")
        with _pytest.raises(Exception, match="NULL 'doc_id'"):
            write_webdataset(df, str(tmp_path / "wd"),
                             n_shards=2).collect()

    def test_failed_export_preserves_previous_shards(self, spark,
                                                     tmp_path):
        """A crashed export (here: the NULL-id rejection mid-job) must
        leave the prior export untouched — staged write, swap only on
        success — and sweep its staging leftovers on the next run."""
        import glob as _glob
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        import pytest as _pytest
        p = str(tmp_path / "wd")
        write_webdataset(self._docs(spark, 10), p, meta_cols=["lang"],
                         n_shards=2)
        bad = spark.createDataFrame(
            [(1, "a", "en", "s"), (None, "b", "en", "s")],
            "doc_id LONG, text STRING, lang STRING, source STRING")
        with _pytest.raises(Exception, match="NULL 'doc_id'"):
            write_webdataset(bad, p, n_shards=2)
        assert not _glob.glob(os.path.join(p, ".staging-*"))
        assert not _glob.glob(os.path.join(p, "shard-*.tar.tmp.*"))
        back = read_webdataset(spark, p).collect()
        assert {int(r["key"]) for r in back} == set(range(10))

    def test_torn_swap_rolls_back_before_commit_marker(self, spark,
                                                       tmp_path):
        """Crash mid-retire (before _RETIRED): the prior export is the
        only complete one. A read resolves it READ-ONLY (path ∪ .old);
        the next export's entry heals it for real. Readers must not
        mutate — a live writer's swap transiently looks torn."""
        import glob as _glob
        import shutil as _shutil
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        p = str(tmp_path / "wd")
        write_webdataset(self._docs(spark, 10), p, meta_cols=["lang"],
                         n_shards=2).collect()
        # simulate: some live shards already moved aside, marker not yet
        oldd = os.path.join(p, ".old")
        os.makedirs(oldd)
        shards = sorted(_glob.glob(os.path.join(p, "shard-*.tar")))
        os.replace(shards[0],
                   os.path.join(oldd, os.path.basename(shards[0])))
        back = read_webdataset(spark, p).collect()  # read-only view
        assert {int(r["key"]) for r in back} == set(range(10))
        assert os.path.isdir(oldd)  # the read did NOT mutate
        # the next WRITER rolls the torn swap back before exporting
        write_webdataset(self._docs(spark, 5), p, meta_cols=["lang"],
                         n_shards=2).collect()
        assert not os.path.isdir(oldd)
        back = read_webdataset(spark, p).collect()
        assert {int(r["key"]) for r in back} == set(range(5))
        _shutil.rmtree(p)

    def test_torn_swap_rolls_forward_after_commit_marker(self, spark,
                                                         tmp_path):
        """Crash mid-move-in (after _RETIRED): the staged set was
        complete when the swap began — a read resolves the NEW export
        read-only (path ∪ staging); the next writer heals forward."""
        import glob as _glob
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        p = str(tmp_path / "wd")
        write_webdataset(self._docs(spark, 10), p, meta_cols=["lang"],
                         n_shards=2).collect()
        # simulate a committed-but-torn swap to a NEW 20-doc export:
        # retire the live shards, mark, leave the new set in staging
        oldd = os.path.join(p, ".old")
        os.makedirs(oldd)
        for s in _glob.glob(os.path.join(p, "shard-*.tar")):
            os.replace(s, os.path.join(oldd, os.path.basename(s)))
        with open(os.path.join(oldd, "_RETIRED"), "w") as fh:
            fh.write("1")
        staging = os.path.join(p, ".staging-999999")
        write_webdataset(self._docs(spark, 20), staging,
                         meta_cols=["lang"], n_shards=2).collect()
        back = read_webdataset(spark, p).collect()  # read-only view
        assert {int(r["key"]) for r in back} == set(range(20))
        assert os.path.isdir(oldd)  # the read did NOT mutate
        # the next WRITER heals forward on entry, then swaps its export
        write_webdataset(self._docs(spark, 3), p, meta_cols=["lang"],
                         n_shards=2).collect()
        assert not os.path.isdir(oldd)
        assert not _glob.glob(os.path.join(p, ".staging-*"))
        back = read_webdataset(spark, p).collect()
        assert {int(r["key"]) for r in back} == set(range(3))

    def test_read_path_with_space_and_uri_decoding(self, spark,
                                                   tmp_path):
        """binaryFile returns percent-encoded file: URIs; a path with a
        space must survive the decode (the fpath[5:] strip did not)."""
        from dig_etl_engine_spark.sinks.webdataset import (
            read_webdataset, write_webdataset)
        p = str(tmp_path / "wd dir")
        write_webdataset(self._docs(spark, 10), p, meta_cols=["lang"],
                         n_shards=2).collect()
        back = read_webdataset(spark, p).collect()
        assert {int(r["key"]) for r in back} == set(range(10))

    def test_foreign_tar_members_skipped(self, spark, tmp_path):
        """Foreign tars carry directory entries, extensionless READMEs
        and the odd symlink; the reader must skip them instead of
        crashing on rsplit/extractfile."""
        import io as _io
        import tarfile as _tarfile
        from dig_etl_engine_spark.sinks.webdataset import read_webdataset
        p = tmp_path / "wd"
        p.mkdir()
        with _tarfile.open(p / "shard-00000.tar", "w") as tar:
            d = _tarfile.TarInfo("data")          # directory member
            d.type = _tarfile.DIRTYPE
            tar.addfile(d)
            r = _tarfile.TarInfo("README")        # extensionless file
            r.size = 5
            tar.addfile(r, _io.BytesIO(b"hello"))
            ln = _tarfile.TarInfo("alias.txt")    # symlink, not a file
            ln.type = _tarfile.SYMTYPE
            ln.linkname = "000000000001.txt"
            tar.addfile(ln)
            for name, payload in [("000000000001.txt", b"real doc"),
                                  ("000000000001.json", b"{}")]:
                i = _tarfile.TarInfo(name)
                i.size = len(payload)
                tar.addfile(i, _io.BytesIO(payload))
        back = read_webdataset(spark, str(p)).collect()
        assert len(back) == 1
        assert back[0]["key"] == "000000000001"
        assert back[0]["text"] == "real doc"


class TestForeachBatchIdempotence:
    """The streaming rollup folds must skip replayed micro-batches —
    foreachBatch is at-least-once (`queries_io._batch_already_applied`
    + `_swap_state`)."""

    def test_replayed_batch_is_skipped(self, spark, tmp_path):
        from dig_etl_engine_spark.queries_io import (
            _batch_already_applied, _swap_state)
        target = str(tmp_path / "state")
        s0 = spark.createDataFrame([(1, 10)], "k LONG, n LONG")
        assert not _batch_already_applied(target, 0)
        _swap_state(s0, target, 0)
        # same bid again → replay detected, fold must be skipped
        assert _batch_already_applied(target, 0)
        assert not _batch_already_applied(target, 1)
        s1 = spark.createDataFrame([(1, 30)], "k LONG, n LONG")
        _swap_state(s1, target, 1)
        assert _batch_already_applied(target, 1)
        rows = spark.read.parquet(target).collect()
        assert [(r["k"], r["n"]) for r in rows] == [(1, 30)]

    def test_batch_id_survives_swap_atomically(self, spark, tmp_path):
        """The id file lives INSIDE the state dir and is `_`-prefixed:
        swapped with the data, invisible to the parquet reader."""
        from dig_etl_engine_spark.queries_io import _swap_state
        target = str(tmp_path / "state")
        df = spark.createDataFrame([(1, 1)], "k LONG, n LONG")
        _swap_state(df, target, 7)
        assert open(os.path.join(target, "_LAST_BATCH_ID")).read() == "7"
        assert spark.read.parquet(target).count() == 1


class TestMultimodalNullPayloads:
    def test_null_payload_yields_null_features(self, spark):
        """Per-doc error isolation (C5): a corrupt/absent asset becomes a
        NULL-feature row to quarantine downstream, never a stage failure."""
        from dig_etl_engine_spark.operators.multimodal import (
            extract_features)
        df = spark.createDataFrame(
            [(1, bytearray(b"\x89PNGdata")), (2, None)],
            "doc_id LONG, payload BINARY")
        rows = {r["doc_id"]: r for r in extract_features(df).collect()}
        assert rows[1]["n_bytes"] == 8
        assert rows[1]["header_hex"] == "89504e47"
        assert rows[2]["n_bytes"] is None
        assert rows[2]["header_hex"] is None
        assert rows[2]["feature_md5"] is None


class TestSwapStateCrashWindows:
    def test_recover_from_between_renames_crash(self, spark, tmp_path):
        """Simulate a crash between _swap_state's two renames: target
        gone, .old holds the only state — the next call must restore it
        and still fold the replayed batch from the OLD state."""
        from dig_etl_engine_spark.queries_io import (
            _batch_already_applied, _swap_state)
        target = str(tmp_path / "state")
        _swap_state(spark.createDataFrame([(1, 10)], "k LONG, n LONG"),
                    target, 0)
        # crash simulation: state renamed aside, new state never moved in
        os.rename(target, target + ".old")
        assert not os.path.isdir(target)
        assert not _batch_already_applied(target, 1)   # heals + allows
        assert os.path.isdir(target)                   # restored
        rows = spark.read.parquet(target).collect()
        assert [(r["k"], r["n"]) for r in rows] == [(1, 10)]
        # batch 0 is still recorded as applied in the restored state
        assert _batch_already_applied(target, 0)

    def test_leftover_old_dir_is_swept(self, spark, tmp_path):
        from dig_etl_engine_spark.queries_io import _swap_state
        target = str(tmp_path / "state")
        _swap_state(spark.createDataFrame([(1, 1)], "k LONG, n LONG"),
                    target, 0)
        _swap_state(spark.createDataFrame([(1, 2)], "k LONG, n LONG"),
                    target, 1)
        assert not os.path.isdir(target + ".old")
        assert not os.path.isdir(target + ".next")
        assert spark.read.parquet(target).head()["n"] == 2


class TestIterSamplesProperty:
    """Hypothesis fuzz of the pure tar member-grouping kernel
    (`sinks/webdataset.iter_samples`) against a straightforward
    reference: filter regular members with an extension in basename,
    then group contiguous same-stem runs keeping the last payload per
    extension within a run."""

    @staticmethod
    def _build_tar(members):
        import io as _io
        import tarfile as _tarfile
        buf = _io.BytesIO()
        with _tarfile.open(fileobj=buf, mode="w") as tar:
            for name, kind, payload in members:
                info = _tarfile.TarInfo(name)
                if kind == "dir":
                    info.type = _tarfile.DIRTYPE
                    tar.addfile(info)
                elif kind == "sym":
                    info.type = _tarfile.SYMTYPE
                    info.linkname = "x"
                    tar.addfile(info)
                else:
                    info.size = len(payload)
                    tar.addfile(info, _io.BytesIO(payload))
        buf.seek(0)
        return buf

    @staticmethod
    def _reference(members):
        import os as _os
        runs, cur_stem, cur = [], None, None
        for name, kind, payload in members:
            if kind != "file" or "." not in _os.path.basename(name):
                continue
            stem, ext = name.rsplit(".", 1)
            if stem != cur_stem:
                if cur_stem is not None:
                    runs.append((cur_stem, cur))
                cur_stem, cur = stem, {}
            cur[ext] = payload
        if cur_stem is not None:
            runs.append((cur_stem, cur))
        return runs

    def test_matches_reference(self):
        import tarfile as _tarfile
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from dig_etl_engine_spark.sinks.webdataset import iter_samples

        name = st.one_of(
            st.sampled_from(["README", "data", "./a.txt", "a.txt",
                             "a.json", "a.bin", "b.txt", "b.json",
                             "dir/c.txt", "some.dir/d", "x..", ".hidden",
                             "x.y.z"]),
            st.text(alphabet="ab./_", min_size=1, max_size=8)
            .filter(lambda s: not s.endswith("/") and s not in (".", "..")
                    and "//" not in s and not s.startswith("/")),
        )
        member = st.tuples(name, st.sampled_from(["file", "dir", "sym"]),
                           st.binary(max_size=16))

        @given(st.lists(member, max_size=24))
        @settings(max_examples=200, deadline=None)
        def check(members):
            buf = self._build_tar(members)
            with _tarfile.open(fileobj=buf) as tar:
                got = [(s, dict(p)) for s, p in iter_samples(tar)]
            assert got == self._reference(members)

        check()


class TestBucketMetaAndRebucket:
    """The bucket count is a table property (stamped into the manifest
    at birth, wins over the argument) and `rebucket_partitioned` is the
    sanctioned way to change it — a mismatched argument used to silently
    leave stale key copies in old-count buckets (duplicate keys on
    read)."""

    SCHEMA = TestUpsert.SCHEMA

    def _table(self, spark, tmp_path, buckets=8, n=40):
        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(f"k{i}", 1, "base") for i in range(n)], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, base, buckets=buckets)
        return p

    def test_mismatched_buckets_argument_is_ignored(self, spark, tmp_path):
        p = self._table(spark, tmp_path, buckets=8)
        # upsert the same keys claiming a DIFFERENT bucket count: the
        # manifest's count wins, so the table keeps its 8-way layout and
        # last-write-wins holds
        upd = spark.createDataFrame(
            [(f"k{i}", 10, "new") for i in range(40)], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, upd, buckets=16)
        rows = kg_table.read_partitioned(spark, p).collect()
        assert len(rows) == 40                     # no duplicate keys
        assert all(r.v == "new" for r in rows)
        assert kg_table._load_manifest(p)["buckets"] == 8
        assert set(kg_table._load_manifest(p)["live"]) <= set(range(8))

    def test_rebucket_grows_table_layout(self, spark, tmp_path):
        import glob
        p = self._table(spark, tmp_path, buckets=2)
        before = {r.doc_id: (r.kafka_offset, r.v)
                  for r in kg_table.read_partitioned(spark, p).collect()}
        n = kg_table.rebucket_partitioned(spark, p, 8)
        assert n == len(before)
        kbs = {int(d.rsplit("=", 1)[1]) for d in glob.glob(f"{p}/_kb=*")}
        assert len(kbs) > 2 and kbs <= set(range(8))
        after = {r.doc_id: (r.kafka_offset, r.v)
                 for r in kg_table.read_partitioned(spark, p).collect()}
        assert after == before
        # subsequent upserts adopt the new count from the manifest even
        # with a stale default argument, and merge correctly
        upd = spark.createDataFrame([("k0", 99, "post")], self.SCHEMA)
        kg_table.upsert_partitioned(spark, p, upd, buckets=2)
        got = {r.doc_id: r.v
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got["k0"] == "post" and len(got) == len(before)

    def test_int_table_aligns_wider_batches_down(self, spark, tmp_path):
        """An INT-keyed table is the birth-type contract: a wider
        (BIGINT) batch merges aligned DOWN to INT (the schema is a
        cross-bucket contract: a coerced-up rewrite of only the touched
        buckets would leave the table unreadable, the _align_to_table
        hazard), a wider value that does not fit the
        birth type fails at execution, and column drift is refused."""
        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 1, "base") for i in range(40)],
            "doc_id int, kafka_offset long, v string")
        kg_table.upsert_partitioned(spark, p, base, buckets=4)
        b_long = spark.createDataFrame(
            [(7, 11, "wide")], "doc_id long, kafka_offset long, v string")

        # the wider batch merges, aligned down to the birth INT type;
        # one row per key, values right, schema unchanged
        kg_table.upsert_partitioned(spark, p, b_long, buckets=4)
        table = kg_table.read_partitioned(spark, p)
        assert table.schema["doc_id"].dataType.simpleString() == "int"
        rows = table.collect()
        assert len(rows) == 40
        final = {r.doc_id: r.v for r in rows}
        assert final[7] == "wide"
        assert sum(1 for r in rows if r.doc_id == 7) == 1

        # a wider VALUE that cannot fit the birth type fails loudly
        # at execution (guarded try_cast), and the failed staging write
        # leaves the table intact
        b_big = spark.createDataFrame(
            [(2**40, 12, "oob")],
            "doc_id long, kafka_offset long, v string")
        with pytest.raises(Exception, match="does not fit the table's"):
            kg_table.upsert_partitioned(spark, p, b_big, buckets=4)
        assert {r.doc_id: r.v
                for r in kg_table.read_partitioned(spark, p).collect()} \
            == final

        # cross-bucket schema drift is refused for NON-key columns
        # and for batch-only new columns too (same mixed-parquet hazard)
        b_widecol = spark.createDataFrame(
            [(7, 13, "x", 1.5)],
            "doc_id int, kafka_offset long, v string, extra double")
        with pytest.raises(ValueError, match="adds column"):
            kg_table.upsert_partitioned(spark, p, b_widecol, buckets=4)
        b_cross = spark.createDataFrame(
            [(7, 13, 99)], "doc_id int, kafka_offset long, v int")
        with pytest.raises(ValueError, match="cross-family"):
            kg_table.upsert_partitioned(spark, p, b_cross, buckets=4)

    def test_flat_bootstrap_first_upsert_schema_evolution(self, spark,
                                                          tmp_path):
        """r9 round-close review regression: a batch-only NEW column is
        legal on the FIRST partitioned upsert after a flat
        create_table bootstrap — every row (stray ∪ batch) is rewritten
        in that one pass, so the column lands in every bucket
        atomically (this worked before _align_to_table landed and must
        keep working). Once bucketed dirs exist, a further new column
        refuses as before."""
        from dig_etl_engine_spark.sinks.kg_table import (
            read_partitioned, upsert_partitioned)

        p = str(tmp_path / "t")
        boot = spark.createDataFrame(
            [(i, 1, "base") for i in range(10)],
            "doc_id long, kafka_offset long, v string")
        boot.write.parquet(p)          # flat root layout = the bootstrap

        b1 = spark.createDataFrame(
            [(3, 2, "upd", 0.5)],
            "doc_id long, kafka_offset long, v string, extra double")
        upsert_partitioned(spark, p, b1, buckets=2)
        table = read_partitioned(spark, p)
        assert "extra" in table.columns
        got = {r.doc_id: (r.v, r.extra) for r in table.collect()}
        assert got[3] == ("upd", 0.5) and got[0] == ("base", None)
        assert len(got) == 10

        # bucketed dirs now exist: a second new column refuses
        b2 = spark.createDataFrame(
            [(4, 3, "x", 1.0, 7)],
            "doc_id long, kafka_offset long, v string, extra double, "
            "more int")
        with pytest.raises(ValueError, match="adds column"):
            upsert_partitioned(spark, p, b2, buckets=2)

    def test_align_to_table_width_matrix(self, spark):
        """_align_to_table unit battery over the full integral width
        ladder (tinyint/smallint/int/bigint — the migration golden only
        exercises int↔bigint) and the fractional pair: same-family
        narrowing keeps fitting values and raises on non-fitting ones,
        widening is silent, NULLs always pass, missing columns are
        untouched, and equal types short-circuit to the identity."""
        from pyspark.sql import types as T

        from dig_etl_engine_spark.sinks.kg_table import _align_to_table

        def ref(*fields):
            return T.StructType(
                [T.StructField(n, t) for n, t in fields]
                + [T.StructField("_kb", T.IntegerType())])

        # fitting values narrow cleanly down the whole ladder
        b = spark.createDataFrame([(100, 100, 100)],
                                  "a long, b int, c smallint")
        out = _align_to_table(
            b, ref(("a", T.ByteType()), ("b", T.ShortType()),
                   ("c", T.ByteType())), target_path="/t")
        assert [f.dataType.simpleString() for f in out.schema.fields] \
            == ["tinyint", "smallint", "tinyint"]
        assert out.collect() == [(100, 100, 100)]

        # a non-fitting value raises at execution, naming the column
        for bad, tgt in [((300,), T.ByteType()), ((40000,), T.ShortType()),
                         ((2**40,), T.IntegerType())]:
            nb = spark.createDataFrame([bad], "a long")
            with pytest.raises(Exception,
                               match="a value in batch column a"):
                _align_to_table(nb, ref(("a", tgt)),
                                target_path="/t").collect()

        # NULLs pass through every narrowing
        nb = spark.createDataFrame([(None,)], "a long")
        assert _align_to_table(nb, ref(("a", T.ByteType())),
                               target_path="/t").collect() == [(None,)]

        # widening (int batch into bigint table) is silent and exact
        nb = spark.createDataFrame([(7,)], "a int")
        out = _align_to_table(nb, ref(("a", T.LongType())),
                              target_path="/t")
        assert out.schema["a"].dataType.simpleString() == "bigint"
        assert out.collect() == [(7,)]

        # float batch into double table widens; fitting double→float
        # narrows; NaN survives (it is not an overflow)
        nb = spark.createDataFrame([(1.5,)], "a float")
        assert _align_to_table(nb, ref(("a", T.DoubleType())),
                               target_path="/t").collect() == [(1.5,)]
        nb = spark.createDataFrame([(float("nan"),)], "a double")
        got = _align_to_table(nb, ref(("a", T.FloatType())),
                              target_path="/t").collect()
        import math as _m
        assert _m.isnan(got[0][0])

        # equal types: the function is the identity (no rewrite plan)
        nb = spark.createDataFrame([(1, "x")], "a long, v string")
        assert _align_to_table(nb, ref(("a", T.LongType()),
                                       ("v", T.StringType())),
                               target_path="/t") is nb

    def test_fractional_overflow_to_infinity_refused(self, spark,
                                                     tmp_path):
        """r9 round-close review regression: ``try_cast`` yields NULL on
        integral overflow but double→float overflow yields ±Infinity, so
        the alignment guard's null-check alone silently stored Inf in a
        FLOAT-birth column. A finite double that overflows float must
        raise; a fitting double aligns down; an ALREADY-infinite source
        passes through (it is not a misencoding)."""
        p = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 1, float(i)) for i in range(8)],
            "doc_id long, kafka_offset long, score float")
        kg_table.upsert_partitioned(spark, p, base, buckets=2)

        b_over = spark.createDataFrame(
            [(3, 2, 1e300)], "doc_id long, kafka_offset long, score double")
        with pytest.raises(Exception, match="does not fit the table's"):
            kg_table.upsert_partitioned(spark, p, b_over, buckets=2)
        table = kg_table.read_partitioned(spark, p)
        assert table.schema["score"].dataType.simpleString() == "float"
        assert {r.doc_id: r.score for r in table.collect()}[3] == 3.0

        b_fit = spark.createDataFrame(
            [(3, 3, 1.5)], "doc_id long, kafka_offset long, score double")
        kg_table.upsert_partitioned(spark, p, b_fit, buckets=2)
        got = {r.doc_id: r.score
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got[3] == 1.5 and len(got) == 8

        b_inf = spark.createDataFrame(
            [(4, 4, float("inf"))],
            "doc_id long, kafka_offset long, score double")
        kg_table.upsert_partitioned(spark, p, b_inf, buckets=2)
        got = {r.doc_id: r.score
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert got[4] == float("inf")

    def test_meta_loss_recovers_hash_version_from_manifest(
            self, spark, tmp_path):
        """The manifest is the table's only metadata: the bucket count
        and the widened hash come from it alone. A stale ``_kg_buckets``
        file, as older builds wrote beside the manifest (here a
        count-only one claiming 16 unwidened buckets), is neither read
        nor written — reading it would scatter this int-keyed table's
        stored rows into wrong buckets (silent row loss)."""
        p = str(tmp_path / "t")
        schema = "doc_id int, v string, kafka_offset long"
        base = spark.createDataFrame(
            [(i, "base", 0) for i in range(30)], schema)
        kg_table.upsert_partitioned(spark, p, base, buckets=4)
        stale = os.path.join(p, "_kg_buckets")
        with open(stale, "w", encoding="utf-8") as fh:
            fh.write("16")
        stat = os.stat(stale)
        # wrong bucket-count argument too: the manifest's value must win
        kg_table.upsert_partitioned(
            spark, p, spark.createDataFrame(
                [(0, "upd", 1), (99, "new", 1)], schema), buckets=16)
        got = {r.doc_id: r.v
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert len(got) == 31 and got[0] == "upd" and got[99] == "new"
        assert kg_table._load_manifest(p)["buckets"] == 4
        with open(stale, encoding="utf-8") as fh:
            assert fh.read() == "16"                   # not rewritten
        assert os.stat(stale).st_mtime_ns == stat.st_mtime_ns

    def test_placement_violation_refuses_instead_of_dropping_rows(
            self, spark, tmp_path, monkeypatch):
        """Stored rows that hash outside their own directory must
        REFUSE the merge with the rebucket path named — under the
        manifest protocol a silent publish would REPLACE the mis-hashed
        rows' target bucket's live dir and drop its incumbent rows.
        Corruption model: one bucket's parquet file copied by hand into
        another live epoch dir, then a batch folded into that dir."""
        import shutil as _sh

        monkeypatch.setattr(kg_table, "_MAX_DELTAS", 1)
        p = str(tmp_path / "t")
        schema = "doc_id long, v string, kafka_offset long"
        base = spark.createDataFrame(
            [(i, "base", 0) for i in range(40)], schema)
        kg_table.upsert_partitioned(spark, p, base, buckets=4)
        live = kg_table._load_manifest(p)["live"]
        src, dst = sorted(live)[:2]
        f = next(n for n in os.listdir(os.path.join(p, live[src]))
                 if n.endswith(".parquet"))
        _sh.copyfile(os.path.join(p, live[src], f),
                     os.path.join(p, live[dst], "copied-" + f))
        before = sorted((r.doc_id, r.v) for r in
                        kg_table.read_partitioned(spark, p).collect())
        gen = kg_table._load_manifest(p)["gen"]
        key = next(k for k in range(100, 200)
                   if spark.range(1).select(
                       F.pmod(F.xxhash64(F.lit(k).cast("long")),
                              F.lit(4)).cast("int").alias("b")
                   ).collect()[0].b == dst)
        batch = spark.createDataFrame([(key, "upd", 1)], schema)
        with pytest.raises(ValueError, match="placement-invariant"):
            kg_table.upsert_partitioned(spark, p, batch, buckets=4)
        # refused BEFORE any publish: the table is unchanged
        assert kg_table._load_manifest(p)["gen"] == gen
        assert kg_table._load_manifest(p)["live"] == live
        assert sorted((r.doc_id, r.v) for r in
                      kg_table.read_partitioned(spark, p).collect()) \
            == before

    def test_transient_pointer_read_error_fails_not_demotes(
            self, spark, tmp_path, monkeypatch):
        """A transient open() failure on the manifest (EMFILE under a
        busy driver, EACCES, NFS error) must PROPAGATE, not read as
        'no pointer': masked, _load_manifest returns None, the next
        upsert treats the committed table as a birth write and its
        sweep deletes every previously committed epoch dir — silent
        truncation (r11 external review, medium)."""
        p = str(tmp_path / "t")
        schema = "doc_id long, v string, kafka_offset long"
        kg_table.upsert_partitioned(
            spark, p, spark.createDataFrame(
                [(i, "base", 0) for i in range(20)], schema), buckets=4)
        assert kg_table._load_manifest(p) is not None
        real_open = open
        mpath = os.path.join(p, kg_table._MANIFEST)

        def flaky_open(f, *a, **kw):
            if str(f) == mpath:
                raise PermissionError(13, "transient fs error", str(f))
            return real_open(f, *a, **kw)

        with monkeypatch.context() as mp:
            mp.setattr("builtins.open", flaky_open)
            with pytest.raises(PermissionError):
                kg_table._load_manifest(p)
            with pytest.raises(PermissionError):
                kg_table.upsert_partitioned(
                    spark, p, spark.createDataFrame(
                        [(99, "new", 1)], schema), buckets=4)
        # nothing was demoted or swept: the table is fully intact
        got = {r.doc_id for r in
               kg_table.read_partitioned(spark, p).collect()}
        assert got == set(range(20))
        # absence still reads as absence (birth tables work)
        assert kg_table.resolve_pointer(
            str(tmp_path / "never_written"), name=kg_table._MANIFEST) \
            is None

    def test_upsert_takes_schema_from_manifest(self, spark, tmp_path):
        """The table's schema lives in its manifest: an upsert opens no
        bucket file to learn it (the per-batch footer probe is gone),
        so bucket files emptied by hand cannot fail the write, and
        read_partitioned serves the manifest's types."""
        p = str(tmp_path / "t")
        schema = "doc_id long, v string, kafka_offset long"
        kg_table.upsert_partitioned(
            spark, p, spark.createDataFrame(
                [(i, "base", 0) for i in range(40)], schema), buckets=4)
        live = kg_table._load_manifest(p)["live"]
        assert len(live) == 4
        for dname in live.values():
            for f in os.listdir(os.path.join(p, dname)):
                if f.endswith(".parquet"):
                    os.remove(os.path.join(p, dname, f))
        kg_table.upsert_partitioned(
            spark, p, spark.createDataFrame([(1, "x", 2)], schema),
            buckets=4)
        table = kg_table.read_partitioned(spark, p)
        assert table.schema.simpleString() == \
            "struct<doc_id:bigint,v:string,kafka_offset:bigint>"
        assert [(r.doc_id, r.v) for r in table.collect()] == [(1, "x")]

    def test_rebucket_crash_recovery_states(self, spark, tmp_path):
        import shutil as _sh
        p = self._table(spark, tmp_path, buckets=2)
        before = {r.doc_id: (r.kafka_offset, r.v)
                  for r in kg_table.read_partitioned(spark, p).collect()}

        # state A: crash between the two swap renames — table dir gone,
        # complete staging dir present → next run finishes the swap
        tmp = p + ".rebucket_tmp.999"
        kg_table.rebucket_partitioned(spark, p, 4)
        _sh.copytree(p, tmp)                       # complete staged copy
        _sh.rmtree(p)
        kg_table.rebucket_partitioned(spark, p, 8)
        assert {r.doc_id: (r.kafka_offset, r.v)
                for r in kg_table.read_partitioned(spark, p).collect()} \
            == before

        # state B: crash mid-staging-write — incomplete staging (no
        # manifest), table intact → stale staging swept, rebucket proceeds
        bad = p + ".rebucket_tmp.998"
        os.makedirs(bad)
        open(os.path.join(bad, "_SUCCESS"), "w").close()  # no manifest
        kg_table.rebucket_partitioned(spark, p, 4)
        assert not os.path.isdir(bad)
        assert {r.doc_id: (r.kafka_offset, r.v)
                for r in kg_table.read_partitioned(spark, p).collect()} \
            == before

        # state C: table gone, only .rebucket_old survives → restored
        old = p + ".rebucket_old"
        _sh.copytree(p, old)
        _sh.rmtree(p)
        kg_table.rebucket_partitioned(spark, p, 4)
        assert {r.doc_id: (r.kafka_offset, r.v)
                for r in kg_table.read_partitioned(spark, p).collect()} \
            == before


class TestDurabilityAndLayoutGuards:
    """r12 protocol hardening: the naive-read tripwire on mixed
    visible/hidden layouts, configurable grace retention, the
    swept-gen fast path, and the staged-data fsync ordering."""

    SCHEMA = "doc_id long, v string, kafka_offset long"

    def _batch(self, spark, pairs):
        return spark.createDataFrame(
            [(k, v, o) for k, v, o in pairs], self.SCHEMA)

    def test_naive_read_guard_trips_on_migrated_table(
            self, spark, tmp_path):
        """A rebucketed table (visible _kb= dirs) that is upserted again
        gets a hidden delta beside its visible dirs, and a raw
        spark.read.parquet(root) would silently serve stale/partial
        rows. The guard file must make that
        read FAIL LOUDLY while read_partitioned stays exact."""
        p = str(tmp_path / "t")
        base = self._batch(spark, [(i, "base", 0) for i in range(24)])
        kg_table.upsert_partitioned(spark, p, base, buckets=4)
        kg_table.rebucket_partitioned(spark, p, 4)
        # all dirs visible: no guard, and a root read resolves the
        # table correctly (poisoning it would break external tools)
        assert not os.path.exists(
            os.path.join(p, kg_table._NAIVE_READ_GUARD))
        # the next upsert commits a hidden delta → mixed layout
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(0, "upd", 1)]), buckets=4)
        m = kg_table._load_manifest(p)
        assert [d.startswith(".kgd_") for d in m["deltas"]] == [True]
        assert all(d.startswith("_kb=") for d in m["live"].values())
        assert os.path.exists(
            os.path.join(p, kg_table._NAIVE_READ_GUARD))
        with pytest.raises(Exception, match="KG_NAIVE_READ_GUARD"):
            spark.read.parquet(p).collect()
        got = {r.doc_id: r.v
               for r in kg_table.read_partitioned(spark, p).collect()}
        assert len(got) == 24 and got[0] == "upd"
        # rebucket normalizes: fresh all-visible layout, no guard, and
        # a naive root read resolves the full table again
        kg_table.rebucket_partitioned(spark, p, 4)
        assert not os.path.exists(
            os.path.join(p, kg_table._NAIVE_READ_GUARD))
        naive = {r.doc_id: r.v for r in spark.read.parquet(p)
                 .select("doc_id", "v").collect()}
        assert naive == got

    def test_grace_retention_generations(self, spark, tmp_path,
                                         monkeypatch):
        """Default retention (1 generation): a superseded dir is
        reclaimed at the NEXT commit. Depth 2: it survives one more
        commit — the knob long lock-free scans need (r11 external
        review, low). Every upsert folds here, so each commit
        supersedes the bucket dirs it touches."""
        monkeypatch.setattr(kg_table, "_MAX_DELTAS", 1)
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(16)]), buckets=2)

        def live_dir_of(key_bucket):
            return kg_table._load_manifest(p)["live"][key_bucket]

        def commit_touching_all(off):
            kg_table.upsert_partitioned(
                spark, p, self._batch(
                    spark, [(i, f"u{off}", off) for i in range(16)]),
                buckets=2)

        # depth 2: superseded dirs survive the commit AFTER the one
        # that superseded them
        monkeypatch.setattr(kg_table, "GRACE_RETAIN_GENERATIONS", 2)
        gen1_dirs = set(kg_table._load_manifest(p)["live"].values())
        commit_touching_all(1)      # supersedes gen1 dirs
        assert all(os.path.isdir(os.path.join(p, d))
                   for d in gen1_dirs)
        commit_touching_all(2)      # gen1 dirs now 2 commits old
        assert all(os.path.isdir(os.path.join(p, d))
                   for d in gen1_dirs)  # still within depth 2
        commit_touching_all(3)      # 3 commits old → reclaimed
        assert not any(os.path.isdir(os.path.join(p, d))
                       for d in gen1_dirs)
        # default depth 1: reclaimed at the very next commit
        monkeypatch.setattr(kg_table, "GRACE_RETAIN_GENERATIONS", 1)
        cur = set(kg_table._load_manifest(p)["live"].values())
        commit_touching_all(4)      # supersedes cur (kept as grace)
        assert all(os.path.isdir(os.path.join(p, d)) for d in cur)
        commit_touching_all(5)
        assert not any(os.path.isdir(os.path.join(p, d)) for d in cur)

    def test_grace_retention_time_window(self, spark, tmp_path,
                                         monkeypatch):
        """A time window keeps superseded dirs across ANY number of
        quick commits (Delta-VACUUM style retain-until). Every upsert
        folds here."""
        monkeypatch.setattr(kg_table, "_MAX_DELTAS", 1)
        monkeypatch.setattr(kg_table, "GRACE_RETAIN_SECONDS", 3600.0)
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(16)]), buckets=2)
        gen1_dirs = set(kg_table._load_manifest(p)["live"].values())
        for off in range(1, 4):
            kg_table.upsert_partitioned(
                spark, p, self._batch(
                    spark, [(i, f"u{off}", off) for i in range(16)]),
                buckets=2)
        # three commits later, the hour-old-at-most dirs all survive
        assert all(os.path.isdir(os.path.join(p, d))
                   for d in gen1_dirs)
        m = kg_table._load_manifest(p)
        assert len(m["grace"]) >= 6
        # window off → the next writer entry's recovery prunes them —
        # WITHOUT hand-invalidating the sidecar: the fast path's pure
        # prune probe must notice releasable entries itself (r12
        # review: otherwise clock-expired grace on an idle table is
        # never reclaimed by non-committing entries)
        monkeypatch.setattr(kg_table, "GRACE_RETAIN_SECONDS", 0.0)
        kg_table._recover_partitioned_swap(p)
        assert not any(os.path.isdir(os.path.join(p, d))
                       for d in gen1_dirs)

    def test_clock_expired_grace_reclaimed_without_commit(
            self, spark, tmp_path, monkeypatch):
        """r12 review finding 1: with a time window configured, grace
        expires by CLOCK — a non-committing writer entry (nightly
        compaction with nothing to do) must reclaim expired dirs even
        though the swept-gen sidecar matches the manifest
        generation. Every upsert folds here."""
        monkeypatch.setattr(kg_table, "_MAX_DELTAS", 1)
        monkeypatch.setattr(kg_table, "GRACE_RETAIN_SECONDS", 3600.0)
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(16)]), buckets=2)
        gen1_dirs = set(kg_table._load_manifest(p)["live"].values())
        for off in (1, 2):       # two more commits: gen1 dirs become
            kg_table.upsert_partitioned(  # GEN-expired, time-retained
                spark, p, self._batch(
                    spark, [(i, f"u{off}", off) for i in range(16)]),
                buckets=2)
        gen3_dirs = set(kg_table._load_manifest(p)["live"].values())
        m = kg_table._load_manifest(p)
        assert kg_table._read_swept_gen(p) == m["gen"]
        assert all(os.path.isdir(os.path.join(p, d))
                   for d in gen1_dirs)        # time-retained only
        real_time = time.time
        with monkeypatch.context() as mp:
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.time.time",
                       lambda: real_time() + 7200.0)  # window elapsed
            kg_table._recover_partitioned_swap(p)     # no invalidation
        assert not any(os.path.isdir(os.path.join(p, d))
                       for d in gen1_dirs)
        # the latest commit's grace stays (gen-retained), and steady
        # state is restored: the next entry fast-paths again
        assert all(os.path.isdir(os.path.join(p, d))
                   for d in gen3_dirs)
        assert kg_table._read_swept_gen(p) == m["gen"]

    def test_partial_cleanup_leaves_sidecar_unstamped(
            self, spark, tmp_path, monkeypatch):
        """r12 review finding 2: if the publish's residue cleanup
        fails partially (NFS silly-rename, EBUSY), the swept-gen
        sidecar must NOT be stamped — otherwise the fast path shields
        the leftover from every future sweep."""
        p = str(tmp_path / "t")
        real_rmtree = kg_table.shutil.rmtree

        def flaky_rmtree(path, **kw):
            if ".upsert_tmp_" in str(path):
                return None        # silently fails, like ignore_errors
            return real_rmtree(path, **kw)

        with monkeypatch.context() as mp:
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.shutil."
                       "rmtree", flaky_rmtree)
            kg_table.upsert_partitioned(
                spark, p, self._batch(spark, [(i, "b", 0) for i in
                                              range(8)]), buckets=2)
        assert glob.glob(os.path.join(p, ".upsert_tmp_*"))  # leftover
        assert kg_table._read_swept_gen(p) is None          # unstamped
        # the next (healthy) entry's full sweep reclaims and stamps
        kg_table._recover_partitioned_swap(p)
        assert not glob.glob(os.path.join(p, ".upsert_tmp_*"))
        assert kg_table._read_swept_gen(p) == \
            kg_table._load_manifest(p)["gen"]

    def test_empty_publish_restamps_current_generation(
            self, spark, tmp_path):
        """r12 second-pass finding: a streaming micro-batch that
        delivers no rows unlinks the sidecar (before staging) but used
        to never re-stamp it (no commit happened) — every later entry
        paid the full sweep on an untouched table. An empty clean
        publish must re-stamp the CURRENT generation."""
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(8)]), buckets=2)
        gen = kg_table._load_manifest(p)["gen"]
        assert kg_table._read_swept_gen(p) == gen
        # an empty publish, exactly as the upsert would run it
        kg_table._invalidate_swept_gen(p)
        staging = os.path.join(p, ".upsert_tmp_empt")
        os.makedirs(staging)
        with open(os.path.join(staging, "_SUCCESS"), "w") as fh:
            fh.write("")
        kg_table._publish_staged_buckets(
            p, staging, "empt", manifest=kg_table._load_manifest(p))
        assert kg_table._read_swept_gen(p) == gen     # re-stamped
        assert not os.path.isdir(staging)
        # and through the real API: an empty batch keeps it stamped
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, []), buckets=2)
        assert kg_table._read_swept_gen(p) == \
            kg_table._load_manifest(p)["gen"]

    def test_stamp_orders_root_dirent_flush_before_create(
            self, tmp_path, monkeypatch):
        """r12 second-pass finding: the reclamation unlinks and the
        sidecar create live in the same directory; without a barrier a
        power loss could persist the stamp while losing the unlinks —
        a matching sidecar beside resurrected dirs, shielded forever.
        The stamp must fsync the directory BEFORE creating the file,
        and must NOT stamp when that fsync fails."""
        p = str(tmp_path / "t")
        os.makedirs(p)
        events = []
        real_fsync, real_open_ = os.fsync, os.open

        def spy_fsync(fd):
            events.append("dir_fsync")
            return real_fsync(fd)

        with monkeypatch.context() as mp:
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.fsync",
                       spy_fsync)
            real_builtin_open = open

            def spy_open(f, *a, **kw):
                if str(f).endswith(kg_table._SWEPT_GEN) and a \
                        and "w" in str(a[0]):
                    events.append("stamp_create")
                return real_builtin_open(f, *a, **kw)

            mp.setattr("dig_etl_engine_spark.sinks.kg_table.open",
                       spy_open, raising=False)
            kg_table._stamp_swept_gen(p, 7)
        assert kg_table._read_swept_gen(p) == 7
        assert "dir_fsync" in events and "stamp_create" in events
        assert events.index("dir_fsync") < events.index("stamp_create")
        # failing dir fsync → no stamp (safe direction)
        kg_table._invalidate_swept_gen(p)

        def bad_fsync(fd):
            raise OSError(5, "io error")

        with monkeypatch.context() as mp:
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.fsync",
                       bad_fsync)
            kg_table._stamp_swept_gen(p, 8)
        assert kg_table._read_swept_gen(p) is None

    def test_undeletable_pointer_tmp_blocks_stamp(
            self, spark, tmp_path, monkeypatch):
        """r12 second-pass finding: sweep_pointer_tmps failures must
        fold into the clean verdict — an undeletable manifest tmp file
        stamped over would be shielded by the fast path forever."""
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(8)]), buckets=2)
        tmp = os.path.join(p, f".{kg_table._MANIFEST}.tmp.stuck")
        with open(tmp, "w") as fh:
            fh.write("{}")
        kg_table._invalidate_swept_gen(p)
        real_remove = os.remove

        def flaky_remove(path):
            if str(path) == tmp:
                raise PermissionError(13, "stuck", str(path))
            return real_remove(path)

        with monkeypatch.context() as mp:
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.remove",
                       flaky_remove)
            kg_table._recover_partitioned_swap(p)
        assert os.path.exists(tmp)
        assert kg_table._read_swept_gen(p) is None    # NOT stamped
        kg_table._recover_partitioned_swap(p)         # healthy retry
        assert not os.path.exists(tmp)
        assert kg_table._read_swept_gen(p) == \
            kg_table._load_manifest(p)["gen"]

    def test_guard_healed_on_fast_path(self, spark, tmp_path):
        """r12 second-pass finding: the guard file can be removed
        out-of-band; a read-mostly table may see no data commit for a
        long time, so the STEADY fast path must heal it too."""
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(8)]), buckets=2)
        guard = os.path.join(p, kg_table._NAIVE_READ_GUARD)
        assert os.path.exists(guard)
        os.remove(guard)
        m, steady = kg_table._recover_partitioned_swap(p)
        assert steady                                  # fast path...
        assert os.path.exists(guard)                   # ...healed it

    def test_swept_gen_fast_path_and_invalidation(self, spark,
                                                  tmp_path):
        """Steady state: the sidecar matches the manifest generation
        and entry recovery is a no-op (hand-planted litter is NOT
        swept — out of contract). Any crashed writer leaves the
        sidecar unlinked, and the next entry's full sweep reclaims."""
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(8)]), buckets=2)
        m = kg_table._load_manifest(p)
        assert kg_table._read_swept_gen(p) == m["gen"]
        orphan = os.path.join(p, ".kbe_0_orphantok")
        os.makedirs(orphan)
        kg_table._recover_partitioned_swap(p)   # fast path: skipped
        assert os.path.isdir(orphan)
        kg_table._invalidate_swept_gen(p)       # what a crash leaves
        kg_table._recover_partitioned_swap(p)   # full sweep
        assert not os.path.isdir(orphan)
        assert kg_table._read_swept_gen(p) == m["gen"]  # re-stamped
        # a torn/stale sidecar can only be a SMALLER number → never
        # masks a needed sweep
        with open(os.path.join(p, kg_table._SWEPT_GEN), "w") as fh:
            fh.write("0")
        os.makedirs(orphan)
        kg_table._recover_partitioned_swap(p)
        assert not os.path.isdir(orphan)

    def test_fsync_data_before_manifest_flip(self, tmp_path,
                                             monkeypatch):
        """The durability ORDER the manifest claims: every staged data
        file is fsynced before any epoch rename, and before the
        pointer flip — so a committed manifest can only name durable
        files (r11 external review, low). Pure filesystem."""
        t = os.path.join(str(tmp_path), "kgp")
        staging = os.path.join(t, ".upsert_tmp_tok")
        for kb in (0, 1):
            d = os.path.join(staging, f"_kb={kb}")
            os.makedirs(d)
            with open(os.path.join(d, "a.parquet"), "w") as fh:
                fh.write(f"new-{kb}")
        events = []
        real_fsync_tree = kg_table._fsync_tree
        real_rename, real_replace = os.rename, os.replace

        def spy_fsync_tree(root):
            events.append(("fsync_tree", os.path.basename(root)))
            return real_fsync_tree(root)

        def spy_rename(a, b):
            events.append(("rename", os.path.basename(a)))
            return real_rename(a, b)

        def spy_replace(a, b):
            events.append(("replace", os.path.basename(b)))
            return real_replace(a, b)

        with monkeypatch.context() as mp:
            mp.setattr(kg_table, "_fsync_tree", spy_fsync_tree)
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.rename",
                       spy_rename)
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.replace",
                       spy_replace)
            kg_table._publish_staged_buckets(
                t, staging, "tok", manifest=kg_table._new_manifest(
                    T.StructType(), buckets=2, key="doc_id",
                    order="kafka_offset"))
        kinds = [k for k, _ in events]
        assert kinds.count("fsync_tree") == 2          # both buckets
        last_fsync = max(i for i, k in enumerate(kinds)
                         if k == "fsync_tree")
        first_rename = min(i for i, k in enumerate(kinds)
                           if k == "rename")
        manifest_flip = next(i for i, (k, n) in enumerate(events)
                             if k == "replace"
                             and n == kg_table._MANIFEST)
        assert last_fsync < first_rename < manifest_flip
        # and the toggle really short-circuits the walk
        walked = []
        with monkeypatch.context() as mp:
            mp.setattr(kg_table, "FSYNC_STAGED_DATA", False)
            mp.setattr("dig_etl_engine_spark.sinks.kg_table.os.walk",
                       lambda *a, **kw: walked.append(a) or [])
            kg_table._fsync_tree(t)
        assert walked == []

    def test_layout_report_classification(self, spark, tmp_path):
        rep = kg_table.layout_report(str(tmp_path / "absent"))
        assert rep["era"] == "absent" and rep["findings"]
        p = str(tmp_path / "t")
        kg_table.upsert_partitioned(
            spark, p, self._batch(spark, [(i, "b", 0) for i in
                                          range(12)]), buckets=2)
        rep = kg_table.layout_report(p)
        # a birth-partitioned table is all-hidden → mixed-layout
        # finding present, guard present, rebucket named
        assert rep["era"] == "manifest" and rep["live_hidden"] == 2
        assert rep["guard_present"] and rep["deltas"] == 0
        assert any("rebucket_partitioned" in f for f in rep["findings"])
        # a crashed writer's delta is flagged as an orphan
        os.makedirs(os.path.join(p, ".kgd_orphan"))
        rep = kg_table.layout_report(p)
        assert any("1 of them .kgd_ delta" in f for f in rep["findings"])
        os.rmdir(os.path.join(p, ".kgd_orphan"))
        kg_table.rebucket_partitioned(spark, p, 2)
        rep = kg_table.layout_report(p)
        assert rep["era"] == "manifest" and rep["live_hidden"] == 0
        assert rep["findings"] == []
        # a flat table (an older build's, written directly), and a
        # retired format: classified, never raised
        flat = str(tmp_path / "flat")
        self._batch(spark, [(1, "b", 0)]).write.parquet(flat)
        rep = kg_table.layout_report(flat)
        assert rep["era"] == "flat" and rep["findings"] == []
        retired = str(tmp_path / "retired")
        os.makedirs(os.path.join(retired, "_kb=0"))
        rep = kg_table.layout_report(retired)
        assert rep["era"] == "retired"
        assert any("_kb=" in f and retired in f for f in rep["findings"])


class TestOnDiskFormat:
    """The bucketed table has ONE on-disk format: the manifest is its
    only metadata file. These tests pin the exact names at the table
    root through a table's life, and pin that the retired formats fail
    loudly at every entry point without touching a file."""

    SCHEMA = "doc_id long, v string, kafka_offset long"

    @staticmethod
    def _snapshot(root):
        out = {}
        for dirpath, dirnames, filenames in os.walk(root):
            for n in dirnames + filenames:
                full = os.path.join(dirpath, n)
                st = os.stat(full)
                data = b""
                if os.path.isfile(full):
                    with open(full, "rb") as fh:
                        data = fh.read()
                out[os.path.relpath(full, root)] = (st.st_mtime_ns, data)
        return out

    def test_retired_formats_fail_loudly_and_stay_untouched(
            self, spark, tmp_path):
        import json
        import shutil as _sh

        batch = spark.createDataFrame([(1, "x", 1)], self.SCHEMA)
        # a manifest table to doctor, written through the real protocol
        born = str(tmp_path / "born")
        kg_table.upsert_partitioned(
            spark, born, spark.createDataFrame(
                [(i, "b", 0) for i in range(8)], self.SCHEMA), buckets=2)
        with open(os.path.join(born, kg_table._MANIFEST)) as fh:
            good = json.load(fh)

        def doctored(name, **changes):
            p = str(tmp_path / name)
            _sh.copytree(born, p)
            m = dict(good, **changes)
            for k in [k for k, v in changes.items() if v is None]:
                del m[k]
            with open(os.path.join(p, kg_table._MANIFEST), "w") as fh:
                json.dump(m, fh)
            return p, "retired manifest format"

        # the pre-manifest layout: _kb= dirs, no manifest
        kb_only = str(tmp_path / "kb_only")
        for n in (0, 1):
            d = os.path.join(kb_only, f"_kb={n}")
            os.makedirs(d)
            with open(os.path.join(d, "part-0.parquet"), "wb") as fh:
                fh.write(b"rows placed by an older build")
        with open(os.path.join(kb_only, "_kg_buckets"), "w") as fh:
            fh.write("2")
        cases = [(kb_only, "_kb= bucket dir"),
                 doctored("v1", v=1),
                 doctored("v2", v=2),
                 doctored("no_v", v=None),
                 doctored("no_buckets", buckets=None),
                 doctored("unwidened", widened=False)]
        entry_points = [
            lambda p: kg_table.upsert_partitioned(spark, p, batch,
                                                  buckets=2),
            lambda p: kg_table.compact_partitioned(spark, p),
            lambda p: kg_table.rebucket_partitioned(spark, p, 4),
            lambda p: kg_table.read_partitioned(spark, p),
        ]
        for p, found in cases:
            before = self._snapshot(p)
            for call in entry_points:
                with pytest.raises(ValueError) as ei:
                    call(p)
                assert p in str(ei.value) and found in str(ei.value), \
                    (p, str(ei.value))
                assert self._snapshot(p) == before, p
            rep = kg_table.layout_report(p)
            assert rep["era"] == "retired", (p, rep)
            assert any(found in f for f in rep["findings"]), rep
            assert self._snapshot(p) == before, p

    def test_root_names_pinned_through_lifecycle(self, spark, tmp_path):
        """Birth upsert, a delta upsert, the fold, a compaction, rebucket:
        after each step the table root holds exactly the manifest, the
        swept-gen sidecar, the naive-read guard while a live dir or a
        delta is hidden, and the live, delta and grace dirs — no second
        metadata file."""
        import shutil as _sh

        p = str(tmp_path / "t")
        meta = {kg_table._MANIFEST, kg_table._SWEPT_GEN}

        def expect(extra):
            m = kg_table._load_manifest(p)
            guard = {kg_table._NAIVE_READ_GUARD} if m["deltas"] or any(
                d.startswith(".kbe_") for d in m["live"].values()) \
                else set()
            assert set(os.listdir(p)) == \
                extra | kg_table._referenced_dirs(m) | guard
            assert "_kg_buckets" not in os.listdir(p)
            assert m["buckets"] == 4
            return m

        kg_table.upsert_partitioned(spark, p, spark.createDataFrame(
            [(i, "b", 0) for i in range(16)], self.SCHEMA), buckets=4)
        m = expect(meta)
        assert not m["grace"] and not m["deltas"]
        live = m["live"]
        kg_table.upsert_partitioned(spark, p, spark.createDataFrame(
            [(0, "u", 1)], self.SCHEMA), buckets=4)
        m = expect(meta)
        # a delta, and no bucket rewritten
        assert len(m["deltas"]) == 1 and not m["grace"]
        assert m["live"] == live
        # compaction folds the delta into key 0's bucket
        assert kg_table.compact_partitioned(spark, p, min_files=2) == 1
        m = expect(meta)
        assert not m["deltas"] and len(m["grace"]) == 2
        # fragment one live bucket so the small-file pass commits
        d0 = os.path.join(p, m["live"][sorted(m["live"])[0]])
        frag = d0 + "__frag"
        spark.read.parquet(d0).repartition(3).write.parquet(frag)
        _sh.rmtree(d0)
        os.rename(frag, d0)
        assert kg_table.compact_partitioned(spark, p, min_files=2) == 1
        expect(meta)
        kg_table.rebucket_partitioned(spark, p, 4)
        # a rebucketed root is Spark's partitioned write plus the manifest
        m = expect({kg_table._MANIFEST, "_SUCCESS"})
        assert all(d.startswith("_kb=") for d in m["live"].values())
        assert len(kg_table.read_partitioned(spark, p).collect()) == 16


class TestEffectiveFilesView:
    """_effective_files: the READ-ONLY torn-directory resolver readers
    use instead of the writer-only mutating heal (pure function of the
    directory state — no Spark)."""

    def _mk(self, d, names):
        for n in names:
            os.makedirs(os.path.dirname(os.path.join(d, n)),
                        exist_ok=True)
            with open(os.path.join(d, n), "w") as fh:
                fh.write("x")

    def test_healthy_dir(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import _effective_files
        p = str(tmp_path)
        self._mk(p, ["shard-00000.tar", "shard-00001.tar", "notes.txt"])
        got = _effective_files(p)
        assert [os.path.basename(f) for f in got] == [
            "shard-00000.tar", "shard-00001.tar"]

    def test_pre_marker_union_is_old_export(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import _effective_files
        p = str(tmp_path)
        # crash mid-retire: shard 0 already in .old, shard 1 still live
        self._mk(p, ["shard-00001.tar", ".old/shard-00000.tar"])
        got = _effective_files(p)
        assert sorted(os.path.basename(f) for f in got) == [
            "shard-00000.tar", "shard-00001.tar"]
        assert any("/.old/" in f for f in got)
        # and nothing moved — the resolver is read-only
        assert os.path.exists(os.path.join(p, ".old/shard-00000.tar"))

    def test_post_marker_union_is_new_export(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import _effective_files
        p = str(tmp_path)
        # crash mid-move-in: shard 0 moved in, shard 1 still staged;
        # the retired old copies must NOT appear
        self._mk(p, ["shard-00000.tar", ".old/_RETIRED",
                     ".old/shard-00000.tar", ".old/shard-00001.tar",
                     ".staging-42/shard-00001.tar"])
        got = _effective_files(p)
        assert sorted(os.path.basename(f) for f in got) == [
            "shard-00000.tar", "shard-00001.tar"]
        assert not any("/.old/" in f for f in got)
        # moved-in copy preferred on basename collision
        self._mk(p, [".staging-42/shard-00000.tar"])
        got = _effective_files(p)
        by_name = {os.path.basename(f): f for f in got}
        assert "/.staging-42/" not in by_name["shard-00000.tar"]
        assert "/.staging-42/" in by_name["shard-00001.tar"]

    def test_pattern_parameterized(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import _effective_files
        p = str(tmp_path)
        self._mk(p, ["part-00000.avro", ".old/part-00001.avro",
                     "shard-00000.tar"])
        got = _effective_files(p, "part-*.avro")
        assert sorted(os.path.basename(f) for f in got) == [
            "part-00000.avro", "part-00001.avro"]


class TestOrderedOldDrop:
    """_drop_old deletes retired payload BEFORE the _RETIRED marker, so
    the two states a crash inside the final cleanup can leave are both
    classified safely (a plain rmtree could drop the marker first and a
    marker-less .old payload would be rolled back OVER the committed
    new export)."""

    def _populate(self, d, names):
        for n in names:
            os.makedirs(os.path.dirname(os.path.join(d, n)),
                        exist_ok=True)
            with open(os.path.join(d, n), "w") as fh:
                fh.write("x")

    def test_marker_only_old_is_forward_noop(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import (
            _effective_files, _heal_export)
        p = str(tmp_path)
        # payload already deleted, marker survives → forward: new
        # export (live files) untouched by both reader and healer
        self._populate(p, ["shard-00000.tar", ".old/_RETIRED"])
        assert [os.path.basename(f) for f in _effective_files(p)] == \
            ["shard-00000.tar"]
        _heal_export(p)
        assert not os.path.isdir(os.path.join(p, ".old"))
        assert os.path.exists(os.path.join(p, "shard-00000.tar"))

    def test_empty_markerless_old_rolls_back_nothing(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import (
            _effective_files, _heal_export)
        p = str(tmp_path)
        self._populate(p, ["shard-00000.tar"])
        os.makedirs(os.path.join(p, ".old"))
        assert [os.path.basename(f) for f in _effective_files(p)] == \
            ["shard-00000.tar"]
        _heal_export(p)
        assert not os.path.isdir(os.path.join(p, ".old"))
        assert os.path.exists(os.path.join(p, "shard-00000.tar"))

    def test_drop_old_removes_payload_then_marker(self, tmp_path):
        from dig_etl_engine_spark.sinks.webdataset import _drop_old
        oldd = str(tmp_path / ".old")
        self._populate(str(tmp_path), [".old/shard-00000.tar",
                                       ".old/_RETIRED"])
        _drop_old(oldd, "shard-*.tar")
        assert not os.path.isdir(oldd)


class TestSwapCrashExhaustive:
    """Fault-injection sweep of the staged-export swap: crash at EVERY
    filesystem operation inside _swap_export, then assert (a) the
    read-only view (_effective_files) still resolves to exactly the old
    or exactly the new export — never a mix, never empty — and (b) a
    writer-side _heal_export lands the directory on a complete export
    with consistent content. Then re-inject faults into the heal itself
    and assert a second, clean heal still converges (heal is idempotent
    under its own crashes). Pure filesystem test — no Spark."""

    OLD = ["shard-00000.tar", "shard-00001.tar", "shard-00002.tar"]
    NEW = ["shard-00000.tar", "shard-00001.tar"]

    def _build(self, root):
        import shutil as _sh
        p = os.path.join(root, "exp")
        _sh.rmtree(p, ignore_errors=True)
        staging = os.path.join(p, ".staging-1")
        os.makedirs(staging)
        for n in self.OLD:
            with open(os.path.join(p, n), "w") as fh:
                fh.write(f"old-{n}")
        staged = []
        for n in self.NEW:
            sp = os.path.join(staging, n)
            with open(sp, "w") as fh:
                fh.write(f"new-{n}")
            staged.append(sp)
        return p, staged

    class _Crash(Exception):
        pass

    def _fault_at(self, monkeypatch, module, k):
        """Raise _Crash on the k-th mutating fs op issued by module —
        including the _RETIRED marker open() (which trips AFTER
        creating the file, modeling a torn/empty marker: the commit
        point exists but its write never finished) and shutil.rmtree
        (crash just before the teardown)."""
        import shutil as _sh
        count = {"n": 0}
        real_replace, real_remove = os.replace, os.remove
        real_makedirs, real_open = os.makedirs, open
        real_rmtree = _sh.rmtree

        def trip():
            count["n"] += 1
            if count["n"] == k:
                raise self._Crash()

        def fake_replace(a, b):
            trip()
            return real_replace(a, b)

        def fake_remove(a):
            trip()
            return real_remove(a)

        def fake_makedirs(a, **kw):
            trip()
            return real_makedirs(a, **kw)

        def fake_open(f, mode="r", *a, **kw):
            if "w" in str(mode):
                # create-the-file-then-crash: an empty marker must
                # still classify as committed (existence is the test)
                real_open(f, mode, *a, **kw).close()
                trip()
            return real_open(f, mode, *a, **kw)

        def fake_rmtree(p, **kw):
            trip()
            return real_rmtree(p, **kw)

        monkeypatch.setattr(module + ".os.replace", fake_replace,
                            raising=False)
        monkeypatch.setattr(module + ".os.remove", fake_remove,
                            raising=False)
        monkeypatch.setattr(module + ".os.makedirs", fake_makedirs,
                            raising=False)
        monkeypatch.setattr(module + ".open", fake_open, raising=False)
        monkeypatch.setattr(module + ".shutil.rmtree", fake_rmtree,
                            raising=False)
        return count

    def _contents(self, p, files):
        return {os.path.basename(f): open(f).read() for f in files}

    def _assert_complete(self, got):
        """got: {basename: content} — must be exactly the old export or
        exactly the new export, with matching content epoch."""
        old = {n: f"old-{n}" for n in self.OLD}
        new = {n: f"new-{n}" for n in self.NEW}
        assert got == old or got == new, got

    def test_crash_at_every_swap_op_recovers(self, tmp_path,
                                             monkeypatch):
        import importlib
        wd = importlib.import_module(
            "dig_etl_engine_spark.sinks.webdataset")
        k = 1
        completed_clean = False
        while not completed_clean and k < 60:
            p, staged = self._build(str(tmp_path))
            with monkeypatch.context() as mp:
                counter = self._fault_at(
                    mp, "dig_etl_engine_spark.sinks.webdataset", k)
                try:
                    wd._swap_export(p, "shard-*.tar", staged)
                    completed_clean = counter["n"] < k
                except self._Crash:
                    pass
            # (a) the read-only view resolves a complete export
            view = self._contents(p, wd._effective_files(p))
            self._assert_complete(view)
            # (b) writer-side heal converges to a complete directory
            wd._heal_export(p)
            assert not os.path.isdir(os.path.join(p, ".old"))
            live = self._contents(
                p, [os.path.join(p, f) for f in sorted(os.listdir(p))
                    if f.startswith("shard-")])
            self._assert_complete(live)
            k += 1
        assert completed_clean, "fault budget exhausted before clean run"

    def test_crash_inside_heal_then_heal_again(self, tmp_path,
                                               monkeypatch):
        import importlib
        wd = importlib.import_module(
            "dig_etl_engine_spark.sinks.webdataset")
        # for every swap crash point, also crash the FIRST heal at every
        # point; the second (clean) heal must still converge
        for swap_k in range(1, 30):
            p, staged = self._build(str(tmp_path))
            with monkeypatch.context() as mp:
                self._fault_at(
                    mp, "dig_etl_engine_spark.sinks.webdataset", swap_k)
                try:
                    wd._swap_export(p, "shard-*.tar", staged)
                except self._Crash:
                    pass
            for heal_k in range(1, 12):
                with monkeypatch.context() as mp:
                    self._fault_at(
                        mp, "dig_etl_engine_spark.sinks.webdataset",
                        heal_k)
                    try:
                        wd._heal_export(p)
                    except self._Crash:
                        pass
                # torn-or-healed: the read-only view must stay complete
                self._assert_complete(
                    self._contents(p, wd._effective_files(p)))
            wd._heal_export(p)  # clean pass
            assert not os.path.isdir(os.path.join(p, ".old"))
            live = self._contents(
                p, [os.path.join(p, f) for f in sorted(os.listdir(p))
                    if f.startswith("shard-")])
            self._assert_complete(live)


class TestKgTableCrashSafety:
    """Crash safety of the KG table's one write path: the manifest
    commit for the partitioned merge (no dynamic-overwrite delete
    window), recovery sweeps, the refusal of an older build's stranded
    flat-swap aside, the already-compact skip, and glob-metachar
    paths."""

    def _batch(self, spark, ids, off=0):
        return spark.createDataFrame(
            [(i, f"text {i}", i + off) for i in ids],
            "doc_id LONG, text STRING, kafka_offset LONG")

    def test_stranded_old_aside_is_refused_untouched(self, spark,
                                                     tmp_path):
        """An older build's flat-table swap could crash between its two
        renames, leaving <table>.__old__ as the only complete copy.
        Nothing heals that any more, so the writer must not create a
        new table from one batch beside it, the bootstrap must not seed
        an empty one over it (after which no refusal would fire), nor
        the reader serve an empty result: all three raise, name both
        paths, say how to fix it, and leave every file's bytes and
        mtime as they were."""
        from dig_etl_engine_spark.sinks.kg_table import (
            create_table_if_not_exists, read_partitioned,
            upsert_partitioned)
        t = str(tmp_path / "kg")
        self._batch(spark, range(10)).write.parquet(t + ".__old__")

        def snapshot():
            out = {}
            for root, dirs, files in os.walk(tmp_path):
                for d in dirs:
                    dp = os.path.join(root, d)
                    out[os.path.relpath(dp, tmp_path)] = \
                        os.stat(dp).st_mtime_ns
                for f in files:
                    fp = os.path.join(root, f)
                    with open(fp, "rb") as fh:
                        out[os.path.relpath(fp, tmp_path)] = (
                            os.stat(fp).st_mtime_ns, fh.read())
            return out

        before = snapshot()
        for call in (lambda: upsert_partitioned(
                         spark, t, self._batch(spark, [100]), buckets=4),
                     lambda: create_table_if_not_exists(
                         spark, t, self._batch(spark, []).schema),
                     lambda: read_partitioned(spark, t)):
            with pytest.raises(ValueError) as ei:
                call()
            msg = str(ei.value)
            assert t + ".__old__" in msg and f"back to {t}" in msg
            assert "Rename" in msg
            assert snapshot() == before

    def test_partitioned_upsert_recovers_torn_bucket_swap(self, spark,
                                                          tmp_path,
                                                          monkeypatch):
        """An upsert killed at its manifest flip — its delta dir already
        written, manifest not replaced — leaves the table serving its
        previous state. The replayed batch lands exactly once and the
        next entry sweeps the orphan."""
        import glob as _glob
        from dig_etl_engine_spark.sinks.kg_table import (
            _load_manifest, read_partitioned, upsert_partitioned)
        t = str(tmp_path / "kgp")
        upsert_partitioned(spark, t, self._batch(spark, range(20)),
                           buckets=4)
        before = {(r["doc_id"], r["kafka_offset"]) for r in
                  read_partitioned(spark, t).collect()}
        m = _load_manifest(t)

        def crash(*a, **kw):
            raise RuntimeError("killed at the manifest flip")

        batch = self._batch(spark, [0, 500], off=1000)
        with monkeypatch.context() as mp:
            mp.setattr(kg_table, "commit_pointer", crash)
            with pytest.raises(RuntimeError, match="manifest flip"):
                upsert_partitioned(spark, t, batch, buckets=4)
        assert _load_manifest(t) == m                  # nothing applied
        assert {(r["doc_id"], r["kafka_offset"]) for r in
                read_partitioned(spark, t).collect()} == before
        upsert_partitioned(spark, t, batch, buckets=4)  # the replay
        after = {(r["doc_id"], r["kafka_offset"]) for r in
                 read_partitioned(spark, t).collect()}
        assert after == (before - {(0, 0)}) | {(0, 1000), (500, 1500)}
        # the crashed attempt's delta was swept, the replay's is live
        m = _load_manifest(t)
        assert len(m["deltas"]) == 1
        assert {os.path.basename(d) for d in
                _glob.glob(os.path.join(t, ".kbe_*"))
                + _glob.glob(os.path.join(t, ".kgd_*"))} \
            == kg_table._referenced_dirs(m)
        assert not _glob.glob(os.path.join(t, ".upsert_tmp_*"))

    def test_partitioned_upsert_leaves_no_aside_dirs(self, spark,
                                                     tmp_path):
        import glob as _glob
        from dig_etl_engine_spark.sinks.kg_table import (
            read_partitioned, upsert_partitioned)
        t = str(tmp_path / "kgc")
        upsert_partitioned(spark, t, self._batch(spark, range(12)),
                           buckets=4)
        upsert_partitioned(spark, t, self._batch(spark, range(6), off=50),
                           buckets=4)
        rows = {r["doc_id"]: r["kafka_offset"] for r in
                read_partitioned(spark, t).collect()}
        assert len(rows) == 12
        for i in range(6):
            assert rows[i] == i + 50  # last write won
        assert not _glob.glob(os.path.join(t, ".upsert_*"))

    def test_compact_skips_already_compact_buckets(self, spark,
                                                   tmp_path):
        import glob as _glob
        import shutil as _sh
        from dig_etl_engine_spark.sinks.kg_table import (
            compact_partitioned, upsert_partitioned)
        from dig_etl_engine_spark.sinks.kg_table import _load_manifest
        t = str(tmp_path / "kgs")
        upsert_partitioned(spark, t, self._batch(spark, range(30)),
                           buckets=2)
        # fragment one bucket manually (a fold writes one file per
        # bucket, so fragmentation comes from writes outside it — here
        # we model it directly, inside the bucket's live epoch dir)
        live = _load_manifest(t)["live"]
        d0 = os.path.join(t, live[sorted(live)[0]])
        frag = d0 + "__frag"
        spark.read.parquet(d0).repartition(3).write.parquet(frag)
        _sh.rmtree(d0)
        os.rename(frag, d0)
        n1 = compact_partitioned(spark, t, min_files=2)
        assert n1 == 1  # only the fragmented bucket rewrites

        def _all_files():
            return sorted(
                f for d in _load_manifest(t)["live"].values()
                for f in _glob.glob(os.path.join(t, d, "*.parquet")))

        files_after = _all_files()
        # second run: already at target layout → nothing rewritten
        n2 = compact_partitioned(spark, t, min_files=2)
        assert n2 == 0
        assert _all_files() == files_after

    def test_glob_metachar_path_recovery_sweeps(self, tmp_path):
        """The finding this pins: recovery sweeps built their glob
        patterns from the table path verbatim, so '/data/kg[prod]'
        silently disabled crash recovery ([prod] parsed as a character
        class). Spark's own reads also glob paths, so metachar table
        paths aren't supported end-to-end — but the pure-Python
        recovery/sweep layer must not silently no-op."""
        from dig_etl_engine_spark.sinks.kg_table import (
            _recover_partitioned_swap)
        # a birth that crashed before its flip leaves staging and
        # orphan epochs under a metachar path — swept
        t2 = str(tmp_path / "kgp[prod]")
        os.makedirs(os.path.join(t2, ".kbe_3_dead"))
        os.makedirs(os.path.join(t2, ".upsert_tmp_dead"))
        _recover_partitioned_swap(t2)
        assert os.listdir(t2) == []


class TestManifestRandomCrashReplay:
    """Randomized end-to-end torture of the manifest protocol: a seeded
    random walk of upserts and compactions, each optionally killed at a
    random filesystem op inside the COMMIT path (the Spark writes
    complete; the publish crashes), with the failed batch REPLAYED
    before the walk continues. Invariants after every step:

    * ``read_partitioned`` equals the relational expectation — the
      last-write-wins fold of every batch that REPORTED success plus
      the replayed ones (a crashed-then-replayed batch lands exactly
      once; a crashed compaction changes nothing);
    * the table never serves a mix of two states (prefix property —
      implied by checking exact equality at every step).

    Complements the exhaustive per-op fuzz (which proves each crash
    point recovers in isolation) by proving crash+replay COMPOSES
    across a history of mixed operations — closer to what a flaky
    production writer actually does. Seeded for reproducibility."""

    class _Crash(Exception):
        pass

    def _arm(self, monkeypatch, k):
        """Crash at the k-th commit-critical fs op inside kg_table
        (rename / replace / fsync — the staged moves, the pointer flip,
        and the durability barriers). rmtree is deliberately NOT
        faulted here: the per-op fuzz suite already covers sweep
        crashes at the fs level, and rmtree is also the table_lock
        RELEASE — crashing it would leave the lock held by this live
        pid and stall the walk's next operation on the lock timeout
        rather than exercising the protocol."""
        count = {"n": 0}
        mod = "dig_etl_engine_spark.sinks.kg_table"
        real = {"rename": os.rename, "replace": os.replace,
                "fsync": os.fsync}

        def wrap(name):
            def f(*a, **kw):
                count["n"] += 1
                if count["n"] == k and not self._after:
                    raise self._Crash()
                out = real[name](*a, **kw)
                if count["n"] == k and self._after:
                    # crash AFTER the op took effect: for the pointer
                    # replace this is "committed but the writer died
                    # before returning" — the replay must then be a
                    # pure no-op merge
                    raise self._Crash()
                return out
            return f

        monkeypatch.setattr(mod + ".os.rename", wrap("rename"),
                            raising=False)
        monkeypatch.setattr(mod + ".os.replace", wrap("replace"),
                            raising=False)
        monkeypatch.setattr(mod + ".os.fsync", wrap("fsync"),
                            raising=False)
        return count

    def test_random_crash_replay_walk(self, spark, tmp_path, monkeypatch):
        import random

        rng = random.Random(0xD16E)
        p = str(tmp_path / "kg")
        schema = "doc_id long, v string, kafka_offset long"
        expected: dict[int, tuple[str, int]] = {}

        def apply_batch(rows):
            for doc_id, v, off in rows:
                cur = expected.get(doc_id)
                if cur is None or off >= cur[1]:
                    expected[doc_id] = (v, off)

        def check(step):
            got = {r.doc_id: (r.v, r.kafka_offset) for r in
                   kg_table.read_partitioned(spark, p).collect()}
            assert got == expected, (
                f"step {step}: table diverged from the replayed "
                f"history (missing={set(expected) - set(got)}, "
                f"extra={set(got) - set(expected)})")

        # seed batch (never crashed, so the walk always has a table)
        rows = [(i, "seed", 0) for i in range(20)]
        kg_table.upsert_partitioned(
            spark, p, spark.createDataFrame(rows, schema), buckets=4)
        apply_batch(rows)
        check("seed")

        off = 1
        for step in range(12):
            op = rng.choice(["upsert", "upsert", "upsert", "compact"])
            crash_at = rng.choice([None, None] + list(range(1, 10)))
            self._after = rng.random() < 0.5  # crash before vs after op
            if op == "upsert":
                rows = [(rng.randrange(40), f"s{step}", off + i)
                        for i in range(rng.randrange(1, 5))]
                off += len(rows)
                batch = spark.createDataFrame(rows, schema)
                crashed = False
                if crash_at is not None:
                    with monkeypatch.context() as mp:
                        self._arm(mp, crash_at)
                        try:
                            kg_table.upsert_partitioned(
                                spark, p, batch, buckets=4)
                        except self._Crash:
                            crashed = True
                if crash_at is None or crashed:
                    # replay (or first run) without faults — must land
                    # the batch exactly once regardless of how far the
                    # crashed attempt got
                    kg_table.upsert_partitioned(
                        spark, p, batch, buckets=4)
                apply_batch(rows)
            else:
                crashed = False
                if crash_at is not None:
                    with monkeypatch.context() as mp:
                        self._arm(mp, crash_at)
                        try:
                            kg_table.compact_partitioned(
                                spark, p, min_files=2)
                        except self._Crash:
                            crashed = True
                if crash_at is None or crashed:
                    kg_table.compact_partitioned(spark, p, min_files=2)
                # compaction never changes expected state
            check(step)


class TestKgSwapCrashExhaustive:
    """Fault-injection sweep of the KG table's two commits, mirroring
    TestSwapCrashExhaustive for the export sink: crash at EVERY mutating
    filesystem op inside the fold's _publish_staged_buckets (with and
    without live deltas to retire) and the upsert's _publish_delta, run
    the entry-time recovery, and assert the table is one committed
    state — the touched buckets all pre-merge or all post-merge, a
    delta listed and on disk or unlisted and swept (one manifest flip —
    a batch that did not land replays idempotently). Then crash the
    recovery itself at every op and assert a second, clean recovery
    still converges. Pure filesystem test — no Spark."""

    class _Crash(Exception):
        pass

    def _fault_at(self, monkeypatch, k):
        import shutil as _sh
        count = {"n": 0}
        real_rename, real_replace = os.rename, os.replace
        real_rmtree, real_makedirs = _sh.rmtree, os.makedirs
        mod = "dig_etl_engine_spark.sinks.kg_table"

        def trip():
            count["n"] += 1
            if count["n"] == k:
                raise self._Crash()

        def fake_rename(a, b):
            trip()
            return real_rename(a, b)

        def fake_replace(a, b):
            trip()
            return real_replace(a, b)

        def fake_rmtree(p, **kw):
            trip()
            return real_rmtree(p, **kw)

        def fake_makedirs(p, **kw):
            trip()
            return real_makedirs(p, **kw)

        real_fsync = os.fsync

        def fake_fsync(fd):
            trip()
            return real_fsync(fd)

        monkeypatch.setattr(mod + ".os.fsync", fake_fsync,
                            raising=False)
        monkeypatch.setattr(mod + ".os.rename", fake_rename,
                            raising=False)
        monkeypatch.setattr(mod + ".os.replace", fake_replace,
                            raising=False)
        monkeypatch.setattr(mod + ".shutil.rmtree", fake_rmtree,
                            raising=False)
        monkeypatch.setattr(mod + ".os.makedirs", fake_makedirs,
                            raising=False)
        return count

    BUCKETS = (0, 1, 2)
    TOUCHED = (0, 1)
    DELTAS = (".kgd_a", ".kgd_b")
    NEW_DELTA = ".kgd_new"

    def _build_part(self, root):
        """A manifest-born table (gen-1 manifest over one ``.kbe_``
        epoch dir per bucket, plus the live ``self._deltas``), and
        either a fully-staged fold touching buckets 0 and 1 or, for the
        delta tests, a fully-written delta dir not yet committed.
        Returns (table, staging, manifest)."""
        import shutil as _sh
        from dig_etl_engine_spark.sinks.kg_table import (
            _MANIFEST, _dump_manifest, _new_manifest, commit_pointer)
        t = os.path.join(root, "kgp")
        _sh.rmtree(t, ignore_errors=True)
        os.makedirs(t)
        live = {}
        for kb in self.BUCKETS:
            live[kb] = f".kbe_{kb}_birth"
        staged_delta = [self.NEW_DELTA] if self._stage_delta else []
        for d in list(live.values()) + list(self._deltas) + staged_delta:
            os.makedirs(os.path.join(t, d))
            with open(os.path.join(t, d, "a.parquet"), "w") as fh:
                fh.write(f"old-{d.split('_')[1]}")
        m = dict(_new_manifest(T.StructType(), buckets=len(self.BUCKETS),
                               key="doc_id", order="kafka_offset"),
                 gen=1, live=live, deltas=list(self._deltas))
        commit_pointer(t, _dump_manifest(m), name=_MANIFEST)
        staging = os.path.join(t, ".upsert_tmp_tok")
        if self._stage_delta:
            return t, staging, m
        os.makedirs(staging)
        with open(os.path.join(staging, "_SUCCESS"), "w") as fh:
            fh.write("")
        for kb in self.TOUCHED:
            d = os.path.join(staging, f"_kb={kb}")
            os.makedirs(d)
            with open(os.path.join(d, "a.parquet"), "w") as fh:
                fh.write(f"new-{kb}")
        return t, staging, m

    def _assert_table_is_one_epoch(self, t):
        """The manifest-commit invariant, STRONGER than the old
        per-bucket one: the resolved view is exactly the pre-commit
        table or exactly the post-commit table — the touched buckets
        flip TOGETHER (one pointer replace), never a mix. Every dir the
        manifest references is on disk, and nothing unreferenced
        survives. Returns (folded, manifest)."""
        from dig_etl_engine_spark.sinks.kg_table import (
            _load_manifest, _referenced_dirs)
        m = _load_manifest(t)
        assert sorted(m["live"]) == list(self.BUCKETS), m["live"]
        content = {}
        for kb, d in m["live"].items():
            with open(os.path.join(t, d, "a.parquet")) as fh:
                content[kb] = fh.read()
        assert content[2] == "old-2", content
        touched_states = {content[kb] == f"new-{kb}"
                          for kb in self.TOUCHED}
        assert len(touched_states) == 1, \
            f"torn commit: touched buckets in mixed epochs: {content}"
        folded = touched_states.pop()
        on_disk = {n for n in os.listdir(t)
                   if n.startswith((".kbe_", ".kgd_"))}
        assert on_disk == _referenced_dirs(m), (on_disk, m)
        assert not glob.glob(os.path.join(t, ".upsert_*"))
        return folded, m

    def _crash_everywhere(self, tmp_path, monkeypatch, publish, check):
        """Crash ``publish(table, staging, manifest)`` at its k-th
        filesystem op for k = 1, 2, ... until a run completes without
        reaching the fault, recovering and checking after each."""
        from dig_etl_engine_spark.sinks.kg_table import (
            _recover_partitioned_swap)
        k, completed_clean = 1, False
        while not completed_clean and k < 40:
            t, staging, m = self._build_part(str(tmp_path))
            with monkeypatch.context() as mp:
                counter = self._fault_at(mp, k)
                try:
                    publish(t, staging, m)
                    completed_clean = counter["n"] < k
                except self._Crash:
                    pass
            _recover_partitioned_swap(t)
            check(t, completed_clean)
            k += 1
        assert completed_clean, "fault budget exhausted before clean run"

    def _recovery_crash_then_recover(self, tmp_path, monkeypatch, publish,
                                     check):
        """Crash ``publish`` at each op, then crash the entry recovery
        at each op, then run one clean recovery: it must converge."""
        from dig_etl_engine_spark.sinks.kg_table import (
            _recover_partitioned_swap)
        for swap_k in range(1, 16):
            t, staging, m = self._build_part(str(tmp_path))
            with monkeypatch.context() as mp:
                self._fault_at(mp, swap_k)
                try:
                    publish(t, staging, m)
                except self._Crash:
                    pass
            for heal_k in range(1, 8):
                with monkeypatch.context() as mp:
                    self._fault_at(mp, heal_k)
                    try:
                        _recover_partitioned_swap(t)
                    except self._Crash:
                        pass
            _recover_partitioned_swap(t)  # clean pass
            check(t, False)

    @staticmethod
    def _fold(t, staging, m):
        from dig_etl_engine_spark.sinks.kg_table import (
            _publish_staged_buckets)
        _publish_staged_buckets(t, staging, "tok", manifest=m)

    def _check_fold(self, t, completed_clean):
        folded, m = self._assert_table_is_one_epoch(t)
        # a fold retires its deltas in the flip that publishes buckets
        assert m["deltas"] == ([] if folded else list(self._deltas)), m
        if completed_clean:
            assert folded, "clean publish must land the batch"

    def _delta(self, t, staging, m):
        from dig_etl_engine_spark.sinks.kg_table import _publish_delta
        _publish_delta(t, self.NEW_DELTA, manifest=m)

    def _check_delta(self, t, completed_clean):
        folded, m = self._assert_table_is_one_epoch(t)
        assert not folded            # a delta commit rewrites no bucket
        assert m["deltas"] in (list(self._deltas),
                               list(self._deltas) + [self.NEW_DELTA])
        if completed_clean:
            assert m["deltas"][-1] == self.NEW_DELTA

    _deltas: tuple = ()
    _stage_delta = False

    def test_partitioned_swap_crash_everywhere(self, tmp_path,
                                               monkeypatch):
        self._crash_everywhere(tmp_path, monkeypatch, self._fold,
                               self._check_fold)

    def test_partitioned_recovery_crash_then_recover(self, tmp_path,
                                                     monkeypatch):
        self._recovery_crash_then_recover(tmp_path, monkeypatch,
                                          self._fold, self._check_fold)

    def test_fold_of_deltas_crash_everywhere(self, tmp_path, monkeypatch):
        """A fold that also retires two live deltas: the deltas leave
        the manifest in the same flip that publishes the buckets."""
        self._deltas = self.DELTAS
        self._crash_everywhere(tmp_path, monkeypatch, self._fold,
                               self._check_fold)

    def test_fold_of_deltas_recovery_crash_then_recover(self, tmp_path,
                                                        monkeypatch):
        self._deltas = self.DELTAS
        self._recovery_crash_then_recover(tmp_path, monkeypatch,
                                          self._fold, self._check_fold)

    def test_delta_commit_crash_everywhere(self, tmp_path, monkeypatch):
        """The per-batch delta commit: the new delta is either listed
        and on disk, or unlisted and swept; the live deltas and buckets
        are never touched."""
        self._deltas, self._stage_delta = self.DELTAS[:1], True
        self._crash_everywhere(tmp_path, monkeypatch, self._delta,
                               self._check_delta)

    def test_delta_recovery_crash_then_recover(self, tmp_path,
                                               monkeypatch):
        self._deltas, self._stage_delta = self.DELTAS[:1], True
        self._recovery_crash_then_recover(tmp_path, monkeypatch,
                                          self._delta, self._check_delta)


class TestTableLock:
    """Advisory single-writer lock on the KG table: closes the same-host
    lost-update window (two concurrent upserts each read-then-swap; the
    second swap silently drops the first's batch) and the
    maintenance-vs-ingest overlap."""

    def test_contention_times_out(self, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import (
            TableLockTimeout, table_lock)
        t = str(tmp_path / "kg")
        with table_lock(t):
            with pytest.raises(TableLockTimeout):
                with table_lock(t, timeout=0.6):
                    pass

    def test_release_allows_reacquire(self, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import table_lock
        t = str(tmp_path / "kg")
        with table_lock(t):
            pass
        with table_lock(t, timeout=0.6):
            pass
        assert not os.path.isdir(t + ".__lock__")

    def test_dead_owner_lock_is_broken(self, tmp_path):
        import subprocess
        from dig_etl_engine_spark.sinks.kg_table import table_lock
        t = str(tmp_path / "kg")
        lockd = t + ".__lock__"
        os.makedirs(lockd)
        # a real, definitely-exited pid on this host
        proc = subprocess.run(["true"])  # noqa: S603,S607
        dead_pid = subprocess.Popen(["true"])  # noqa: S603,S607
        dead_pid.wait()
        import socket as _socket
        with open(os.path.join(lockd, "owner"), "w") as fh:
            fh.write(f"{dead_pid.pid} {_socket.gethostname()}")
        # age the lock past the 2 s dead-owner grace
        past = time.time() - 10
        os.utime(lockd, (past, past))
        with table_lock(t, timeout=5.0):
            pass  # acquired by breaking the dead owner's lock
        assert proc.returncode == 0

    def test_ttl_breaks_unknown_owner(self, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import table_lock
        t = str(tmp_path / "kg")
        lockd = t + ".__lock__"
        os.makedirs(lockd)  # no owner file: crashed before writing it
        past = time.time() - 7200
        os.utime(lockd, (past, past))
        with table_lock(t, timeout=5.0, stale_after=3600.0):
            pass
        assert not os.path.isdir(lockd)

    def test_live_foreign_owner_is_respected(self, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import (
            TableLockTimeout, table_lock)
        t = str(tmp_path / "kg")
        lockd = t + ".__lock__"
        os.makedirs(lockd)
        with open(os.path.join(lockd, "owner"), "w") as fh:
            fh.write("12345 some-other-host")  # cannot probe remote pids
        past = time.time() - 600  # old, but under the 1 h TTL
        os.utime(lockd, (past, past))
        with pytest.raises(TableLockTimeout):
            with table_lock(t, timeout=0.6):
                pass

    def test_concurrent_upserts_lose_no_batch(self, spark, tmp_path):
        """The lost-update scenario itself: two threads upsert disjoint
        batches into the same table concurrently; without the lock the
        later swap drops the earlier batch, with it both land."""
        import threading
        from dig_etl_engine_spark.sinks.kg_table import (
            read_partitioned, upsert_partitioned)
        t = str(tmp_path / "kg")
        upsert_partitioned(spark, t, spark.createDataFrame(
            [(0, "seed", 0)],
            "doc_id LONG, text STRING, kafka_offset LONG"), buckets=4)
        errs = []

        def run(lo):
            try:
                upsert_partitioned(spark, t, spark.createDataFrame(
                    [(i, f"t{i}", i) for i in range(lo, lo + 20)],
                    "doc_id LONG, text STRING, kafka_offset LONG"),
                    buckets=4)
            except Exception as ex:  # noqa: BLE001
                errs.append(ex)

        th = [threading.Thread(target=run, args=(lo,))
              for lo in (100, 200)]
        for x in th:
            x.start()
        for x in th:
            x.join()
        assert not errs, errs
        got = {r["doc_id"] for r in read_partitioned(spark, t).collect()}
        assert got == {0} | set(range(100, 120)) | set(range(200, 220))

    def test_heartbeat_prevents_ttl_theft_from_live_owner(self, tmp_path):
        """A live owner heartbeats the lock mtime, so a contender that
        out-waits stale_after must still time out rather than steal the
        lock mid-write (a multi-hour compaction must not lose its lock
        to a TTL set for crash recovery)."""
        from dig_etl_engine_spark.sinks.kg_table import (
            TableLockTimeout, table_lock)
        t = str(tmp_path / "kg")
        with table_lock(t, stale_after=0.8):  # heartbeat every 0.2 s
            time.sleep(1.6)  # mtime is now refreshed, never >0.8 s old
            with pytest.raises(TableLockTimeout):
                with table_lock(t, timeout=1.2, stale_after=0.8):
                    pass
        # released cleanly afterwards: reacquire works
        with table_lock(t, timeout=1.0):
            pass

    def test_release_spares_a_stolen_lock(self, tmp_path):
        """If the lock was broken while held (frozen owner out-waited by
        the TTL), release must NOT delete the new owner's lock — blind
        removal would admit a third writer alongside the second."""
        from dig_etl_engine_spark.sinks.kg_table import table_lock
        t = str(tmp_path / "kg")
        lockd = t + ".__lock__"
        with table_lock(t):
            # simulate a steal: a new owner now records its identity
            with open(os.path.join(lockd, "owner"), "w") as fh:
                fh.write("99999 thief-host")
        assert os.path.isdir(lockd)  # the thief's lock survived release
        with open(os.path.join(lockd, "owner")) as fh:
            assert fh.read() == "99999 thief-host"

    def test_cross_process_mutual_exclusion(self, tmp_path):
        """The lock's actual design target is cross-PROCESS exclusion
        (separate drivers, one warehouse): N subprocesses hammer a
        non-atomic read-modify-write on a shared counter file under the
        lock; any mutual-exclusion failure loses increments."""
        import subprocess
        import sys
        t = str(tmp_path / "kg")
        counter = str(tmp_path / "counter")
        with open(counter, "w") as fh:
            fh.write("0")
        worker = (
            "import sys, time\n"
            "sys.path.insert(0, %r)\n"
            "from dig_etl_engine_spark.sinks.kg_table import table_lock\n"
            "for _ in range(10):\n"
            "    with table_lock(%r, timeout=60.0):\n"
            "        n = int(open(%r).read())\n"
            "        time.sleep(0.002)\n"
            "        open(%r, 'w').write(str(n + 1))\n"
        ) % (os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), t, counter, counter)
        procs = [subprocess.Popen([sys.executable, "-c", worker])
                 for _ in range(3)]
        for pr in procs:
            assert pr.wait(timeout=120) == 0
        assert open(counter).read() == "30"  # no lost increment
        assert not os.path.isdir(t + ".__lock__")


class TestManifestReaderDuringSwap:
    """The manifest-commit contract, observed from a concurrent reader
    (verdict r10 item 2): a loop of lock-free ``read_partitioned`` calls
    across N upserts and a compaction must see (a) ZERO errors — data
    dirs never move after publication and superseded dirs survive as
    grace copies until the next writer entry — and (b) only COMMITTED
    states: every observed snapshot is exactly the table after some
    prefix of the upserts, never a mix of two (each upsert touches
    multiple buckets, and they flip together in one pointer replace —
    the old per-bucket rename swap could expose bucket A post-batch
    beside bucket B pre-batch)."""

    def test_reader_sees_only_committed_states(self, spark, tmp_path):
        import threading

        from dig_etl_engine_spark.sinks.kg_table import (
            compact_partitioned, read_partitioned, upsert_partitioned)

        p = str(tmp_path / "kg")
        schema = "doc_id long, v string, kafka_offset long"
        base = spark.createDataFrame(
            [(i, "base", 0) for i in range(24)], schema)
        upsert_partitioned(spark, p, base, buckets=4)

        # precompute the committed-state chain: after batch k, key 0 is
        # rewritten to v=f"u{k}" and key 100+k exists — the two keys
        # land in different buckets, so a torn multi-bucket commit
        # WOULD be observable as a mixed snapshot
        states = []
        cur = {i: "base" for i in range(24)}
        states.append(dict(cur))
        batches = []
        for k in range(1, 6):
            cur[0] = f"u{k}"
            cur[100 + k] = "new"
            states.append(dict(cur))
            batches.append(spark.createDataFrame(
                [(0, f"u{k}", k), (100 + k, "new", k)], schema))
        allowed = [frozenset(s.items()) for s in states]

        errors: list[BaseException] = []
        observed: list[frozenset] = []
        stop = threading.Event()

        def reader():
            while not stop.is_set():
                try:
                    snap = frozenset(
                        (r["doc_id"], r["v"]) for r in
                        read_partitioned(spark, p).collect())
                    observed.append(snap)
                except BaseException as e:  # noqa: BLE001 — "no error" IS the assertion
                    errors.append(e)
                    return

        t = threading.Thread(target=reader, daemon=True)
        t.start()
        try:
            for b in batches:
                upsert_partitioned(spark, p, b, buckets=4)
            compact_partitioned(spark, p, min_files=2)
        finally:
            stop.set()
            t.join(timeout=120)
        assert not errors, \
            f"reader saw an error during swaps: {errors[0]!r}"
        assert len(observed) >= 3
        bad = [dict(o) for o in observed if o not in allowed]
        assert not bad, f"uncommitted/mixed state observed: {bad[:2]}"
        # the final read sees the fully-applied chain
        final = frozenset(
            (r["doc_id"], r["v"]) for r in
            read_partitioned(spark, p).collect())
        assert final == allowed[-1]


class TestReadPartitionedTornView:
    """read_partitioned during a concurrent swap never loses or doubles
    a bucket. For a bucket swap the aside copy is the manifest's grace
    copy: a reader that resolved the live dirs before a fold's or
    compaction's flip keeps reading complete superseded dirs and folded
    deltas, and a reader resolving after the flip sees only the new
    live dirs. A table mid-rebucket reads from its .rebucket_old
    copy."""

    def _table(self, spark, tmp_path, name="kgt"):
        from dig_etl_engine_spark.sinks.kg_table import (
            read_partitioned, upsert_partitioned)
        t = str(tmp_path / name)
        upsert_partitioned(spark, t, spark.createDataFrame(
            [(i, f"text {i}", i) for i in range(40)],
            "doc_id LONG, text STRING, kafka_offset LONG"), buckets=4)
        rows = {(r["doc_id"], r["kafka_offset"]) for r in
                read_partitioned(spark, t).collect()}
        assert len(rows) == 40
        return t, rows

    def _read(self, spark, dirs):
        return {(r["doc_id"], r["kafka_offset"]) for r in
                spark.read.parquet(*dirs).collect()}

    @staticmethod
    def _bucket_dirs(t):
        return [os.path.join(t, d) for _, d in
                sorted(kg_table._load_manifest(t)["live"].items())]

    def test_upsert_swap_window_reads_aside(self, spark, tmp_path,
                                            monkeypatch):
        from dig_etl_engine_spark.sinks.kg_table import upsert_partitioned
        monkeypatch.setattr(kg_table, "_MAX_DELTAS", 1)  # upserts fold
        t, rows = self._table(spark, tmp_path)
        resolved = self._bucket_dirs(t)           # a reader mid-flight
        upsert_partitioned(spark, t, spark.createDataFrame(
            [(0, "upd", 100), (1, "upd", 101)],
            "doc_id LONG, text STRING, kafka_offset LONG"), buckets=4)
        assert self._bucket_dirs(t) != resolved
        assert self._read(spark, resolved) == rows  # grace copies serve

    def test_compact_swap_window_reads_aside(self, spark, tmp_path):
        import shutil as _sh
        from dig_etl_engine_spark.sinks.kg_table import compact_partitioned
        t, rows = self._table(spark, tmp_path, "kgc")
        d0 = self._bucket_dirs(t)[0]
        spark.read.parquet(d0).repartition(3).write.parquet(d0 + "__f")
        _sh.rmtree(d0)
        os.rename(d0 + "__f", d0)
        resolved = self._bucket_dirs(t)
        assert compact_partitioned(spark, t, min_files=2) == 1
        assert self._bucket_dirs(t) != resolved
        assert self._read(spark, resolved) == rows

    def test_reader_resolved_before_fold_reads_complete_rows(
            self, spark, tmp_path):
        """A lock-free reader that resolved the manifest — and built its
        scan over the buckets and deltas it named — before a fold still
        reads the complete, correct table after the fold: the folded
        deltas and superseded buckets are grace copies."""
        from dig_etl_engine_spark.sinks.kg_table import (
            compact_partitioned, read_partitioned, upsert_partitioned)
        t, rows = self._table(spark, tmp_path, "kgf")
        schema = "doc_id LONG, text STRING, kafka_offset LONG"
        for off in (100, 200):
            upsert_partitioned(spark, t, spark.createDataFrame(
                [(0, "upd", off), (1000 + off, "new", off)], schema))
        expected = (rows - {(0, 0)}) | {(0, 200), (1100, 100),
                                        (1200, 200)}
        m = kg_table._load_manifest(t)
        assert len(m["deltas"]) == 2
        early = read_partitioned(spark, t)        # resolved pre-fold
        assert compact_partitioned(spark, t) >= 1
        after = kg_table._load_manifest(t)
        assert not after["deltas"] and after["live"] != m["live"]
        # a writer entry's full sweep (as after any crashed writer)
        # keeps what the grace list names
        kg_table._invalidate_swept_gen(t)
        kg_table._recover_partitioned_swap(t)
        assert {(r["doc_id"], r["kafka_offset"])
                for r in early.collect()} == expected
        assert {(r["doc_id"], r["kafka_offset"]) for r in
                read_partitioned(spark, t).collect()} == expected

    def test_live_bucket_wins_over_aside(self, spark, tmp_path,
                                         monkeypatch):
        """Post-flip, with the superseded dir still on disk as grace:
        the new live dir must win, not duplicate."""
        from dig_etl_engine_spark.sinks.kg_table import (
            read_partitioned, upsert_partitioned)
        monkeypatch.setattr(kg_table, "_MAX_DELTAS", 1)  # upserts fold
        t, rows = self._table(spark, tmp_path, "kgw")
        before = set(self._bucket_dirs(t))
        upsert_partitioned(spark, t, spark.createDataFrame(
            [(0, "upd", 100)],
            "doc_id LONG, text STRING, kafka_offset LONG"), buckets=4)
        superseded = before - set(self._bucket_dirs(t))
        assert superseded and all(os.path.isdir(d) for d in superseded)
        got = [(r["doc_id"], r["kafka_offset"]) for r in
               read_partitioned(spark, t).collect()]
        assert sorted(got) == sorted((rows - {(0, 0)}) | {(0, 100)})

    def test_mid_rebucket_reads_retired_copy(self, spark, tmp_path):
        from dig_etl_engine_spark.sinks.kg_table import read_partitioned
        t, rows = self._table(spark, tmp_path, "kgr")
        os.rename(t, t + ".rebucket_old")
        got = {(r["doc_id"], r["kafka_offset"]) for r in
               read_partitioned(spark, t).collect()}
        assert got == rows
