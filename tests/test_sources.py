"""METS XML parse + pairtree binaryFile source tests (S5/F7/J1, S2/S6).

The round-trip discipline: synthesize a METS document from known
tuples, parse it back, assert tuple equality (TestMETSParser.java's
strategy with a synthesized fixture instead of a shipped one)."""

from __future__ import annotations

from contextlib import nullcontext

import pandas as pd
import pytest
from pyspark.sql import functions as F

from htrc_ingester_spark.sources import filesystem as FS
from htrc_ingester_spark.sources import mets as M
from htrc_ingester_spark.sources import zipsource as Z


@pytest.fixture(scope="module")
def mets_df(spark):
    rows = [
        ("uc2.ark:/13960/ta", M.synthesize_mets("uc2.ark:/13960/ta", 5)),
        ("uc2.ark:/13960/tb", M.synthesize_mets("uc2.ark:/13960/tb", 3, drop_fptr_for={2})),
        ("uc2.ark:/13960/tc", M.synthesize_mets("uc2.ark:/13960/tc", 4, dup_file_at=3)),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["volume_id", "mets_xml"]))


class TestMETSParse:
    def test_round_trip_pages(self, mets_df):
        parsed = M.parse_mets(mets_df)
        pages, orphans = M.pages_table(parsed)
        pa = pages.where("volume_id = 'uc2.ark:/13960/ta'").orderBy("order").toPandas()
        assert list(pa["order"]) == [1, 2, 3, 4, 5]
        assert list(pa.sequence) == [f"{i:08d}" for i in range(1, 6)]
        # full pairtree cleaning (':'→'+' '/'→'=' '.'→','): fixture
        # member names now follow the same spec as the directory names
        assert pa.filename.iloc[0] == "uc2,ark+=13960=ta_00000001.txt"
        assert pa.order_label.iloc[0] == "p1"
        import hashlib

        assert pa.checksum.iloc[2] == hashlib.md5(b"uc2.ark:/13960/ta:3").hexdigest()

    def test_only_ocr_group_and_physical_map(self, mets_df):
        parsed = M.parse_mets(mets_df).toPandas()
        # the zip-archive fileGrp and logical structMap must not leak
        assert not (parsed.file_id == "ZIP1").any()
        assert not (parsed["order"] == 999).any()

    def test_missing_fptr_drops_page_inner_join(self, mets_df):
        pages, _ = M.pages_table(M.parse_mets(mets_df))
        pb = pages.where("volume_id = 'uc2.ark:/13960/tb'").toPandas()
        assert sorted(pb["order"]) == [1, 3]  # page 2 had no fptr

    def test_duplicate_file_id_kept_once_and_surfaced(self, mets_df):
        parsed = M.parse_mets(mets_df)
        dups = parsed.where("kind = 'dup_file'").toPandas()
        assert list(dups.volume_id) == ["uc2.ark:/13960/tc"]
        pages, _ = M.pages_table(parsed)
        pc = pages.where("volume_id = 'uc2.ark:/13960/tc'").toPandas()
        assert sorted(pc["order"]) == [1, 2, 3, 4]  # no double page 3

    def test_malformed_xml_to_error_channel(self, spark):
        bad = spark.createDataFrame(
            pd.DataFrame({"volume_id": ["x"], "mets_xml": ["<METS:mets>"]})
        )
        parsed = M.parse_mets(bad).toPandas()
        assert list(parsed.kind) == ["error"]

    def test_page_count_rule(self, mets_df):
        pages, _ = M.pages_table(M.parse_mets(mets_df))
        pc = M.page_count(pages).toPandas().set_index("volume_id").page_count.to_dict()
        assert pc["uc2.ark:/13960/ta"] == 5
        assert pc["uc2.ark:/13960/tb"] == 2


class TestPairtree:
    def test_write_then_binaryfile_read_round_trip(self, spark, tmp_path):
        ids = ["uc2.ark:/13960/ta", "uc2.ark:/13960/tb", "ab.id/x"]
        rows = [(i, f"payload-{i}".encode()) for i in ids]
        df = spark.createDataFrame(rows, "volume_id string, content binary")
        n = FS.write_pairtree(df, str(tmp_path))
        assert n == 3
        req = spark.createDataFrame(
            [(i,) for i in ids] + [("missing.id",)], "volume_id string"
        )
        found, missing = FS.read_pairtree(spark, str(tmp_path), req)
        got = found.toPandas().sort_values("volume_id")
        assert list(got.volume_id) == sorted(ids)
        assert bytes(got.content.iloc[0]) == f"payload-{sorted(ids)[0]}".encode()
        assert [r.volume_id for r in missing.collect()] == ["missing.id"]

    @pytest.mark.parametrize("schema,ids,stored", [
        ("volume_id string", ["a.id/1", "a.id/1", "b.id/2"], ["a.id/1", "b.id/2"]),
        ("volume_id bigint", [101, 202], ["101", "202"]),
        ("volume_id bigint", [303], ["101"]),
    ])
    def test_point_read_and_scan_return_identical_frames(
        self, spark, tmp_path, scale_regime, schema, ids, stored
    ):
        """The point read (default) and the scan-and-join (scale
        regime) share one contract: one found row per requested row
        that is stored, and the id column keeps its input type."""
        rows = [(v, f"payload-{v}".encode()) for v in stored]
        FS.write_pairtree(spark.createDataFrame(rows, "volume_id string, content binary"), str(tmp_path))
        req = spark.createDataFrame([(i,) for i in ids], schema)
        frames = []
        for regime in (nullcontext, scale_regime):
            with regime():
                found, _ = FS.read_pairtree(spark, str(tmp_path), req)
                frames.append((found.schema, sorted(found.collect())))
        assert frames[0] == frames[1]
        assert frames[0][0]["volume_id"].dataType.simpleString() == schema.split()[1]
        assert len(frames[0][1]) == sum(str(i) in stored for i in ids)

    def test_segment_path_shape(self, spark, tmp_path):
        df = spark.createDataFrame([("uc2.ark:/13960/ta", b"x")], "volume_id string, content binary")
        FS.write_pairtree(df, str(tmp_path))
        import glob

        paths = glob.glob(f"{tmp_path}/**/*.zip", recursive=True)
        assert len(paths) == 1
        rel = paths[0][len(str(tmp_path)) + 1 :]
        # cleaned id 'uc2,ark+=13960=ta' → 2-char segments
        assert rel == "uc/2,/ar/k+/=1/39/60/=t/a/uc2,ark+=13960=ta.zip"


REAL_METS = "/root/reference/src/test/resources/39002034644600.mets.xml"


@pytest.mark.skipif(not __import__("os").path.exists(REAL_METS), reason="reference fixture absent")
class TestRealMETSFixture:
    """The reference's own gnarly real-world fixture (6,396 lines, 430
    pages, 3 fptrs per div) parsed at runtime from the read-only
    reference checkout — the parity case TestMETSParser.java:55-122
    exercises: lookups by filename and by ID agree, pageCount is
    consistent."""

    @pytest.fixture(scope="class")
    def pages(self, spark):
        import pandas as pd

        with open(REAL_METS) as f:
            xml = f.read()
        df = spark.createDataFrame(
            pd.DataFrame({"volume_id": ["39002034644600"], "mets_xml": [xml]})
        )
        parsed = M.parse_mets(df)
        return M.pages_table(parsed) + (parsed,)

    def test_all_430_ocr_pages_assembled(self, pages):
        pg, orphans, parsed = pages
        got = pg.toPandas()
        assert len(got) == 430
        # distinct by filename AND by id (the reference's two indices)
        assert got.filename.nunique() == 430
        assert got.file_id.nunique() == 430
        assert M.page_count(pg).collect()[0].page_count == 430

    def test_orders_are_dense_1_to_430(self, pages):
        pg, _, _ = pages
        got = pg.toPandas()
        assert sorted(got["order"]) == list(range(1, 431))
        assert set(got.sequence) == {f"{i:08d}" for i in range(1, 431)}

    def test_non_ocr_fptrs_are_orphans_not_pages(self, pages):
        _, orphans, parsed = pages
        # 1290 fptrs, 430 point at ocr files → 860 orphan fptrs
        assert orphans.count() == 860
        p = parsed.toPandas()
        assert (p.kind == "error").sum() == 0
        assert (p.kind == "dup_file").sum() == 0

    def test_checksums_are_md5_hex(self, pages):
        pg, _, _ = pages
        got = pg.toPandas()
        assert (got.checksum_type == "MD5").all()
        assert got.checksum.str.fullmatch("[0-9a-f]{32}").all()
        # the real volume has 13 legitimately EMPTY ocr pages (blank
        # scans) — size 0 is valid data, not a parse failure
        assert (got["size"] >= 0).all()
        assert (got["size"] == 0).sum() == 13


class TestSourcesEdgeContracts:
    """r5 review regressions for the ingest sources."""

    def test_parse_mets_encoding_decl_and_null_are_error_rows(self, spark):
        """Real METS opens with an XML encoding declaration — ET raises
        ValueError for that (not ParseError), and NULL cells raise
        TypeError; both must become error rows, not job aborts."""
        decl = '<?xml version="1.0" encoding="UTF-8"?><bad>'
        df = spark.createDataFrame(
            [("v1", decl), ("v2", None), ("v3", M.synthesize_mets("v3", 2))],
            "volume_id string, mets_xml string",
        )
        out = M.parse_mets(df).toPandas()
        errs = out[out.kind == "error"]
        assert set(errs.volume_id) == {"v1", "v2"}
        assert (out[out.volume_id == "v3"].kind != "error").all()

    def test_validate_accepts_hyphenated_sha1_and_uppercase_hex(self, spark):
        import hashlib

        data = b"page body"
        joined = spark.createDataFrame(
            [
                ("v", "p1.txt", len(data), hashlib.sha1(data).hexdigest(),
                 hashlib.md5(data).hexdigest(), len(data),
                 hashlib.sha1(data).hexdigest().upper(), "SHA-1"),
            ],
            "volume_id string, filename string, byte_count long, sha1 string,"
            " md5 string, size long, checksum string, checksum_type string",
        )
        ok, bad = Z.validate_pages(joined)
        assert ok.count() == 1 and bad.count() == 0

    def test_empty_zip_surfaces_as_error_row(self, spark):
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w"):
            pass  # zero members
        df = spark.createDataFrame(
            [("vempty", buf.getvalue())], "volume_id string, content binary"
        )
        out = Z.explode_zip_pages(df).toPandas()
        assert len(out) == 1
        assert out.error.iloc[0] is not None and "no page members" in out.error.iloc[0]

    def test_nested_order_divs_attribute_fptr_once(self, spark):
        """An fptr under a nested ORDER-bearing div belongs to its
        INNERMOST div only (the reference's StAX association) — the
        old div.iter() emitted one row per ORDER-bearing ancestor."""
        xml = (
            '<METS:mets xmlns:METS="http://www.loc.gov/METS/"'
            ' xmlns:xlink="http://www.w3.org/1999/xlink">'
            '<METS:fileSec><METS:fileGrp USE="ocr">'
            '<METS:file SIZE="10" ID="XML1" CHECKSUM="x" CHECKSUMTYPE="MD5">'
            '<METS:FLocat LOCTYPE="OTHER" xlink:href="p1.txt"/></METS:file>'
            "</METS:fileGrp></METS:fileSec>"
            '<METS:structMap TYPE="physical">'
            '<METS:div ORDER="9" TYPE="section">'
            '<METS:div ORDER="1" TYPE="page"><METS:fptr FILEID="XML1"/></METS:div>'
            "</METS:div></METS:structMap></METS:mets>"
        )
        out = M.parse_mets(
            spark.createDataFrame([("v", xml)], "volume_id string, mets_xml string")
        ).toPandas()
        divs = out[out.kind == "div"]
        assert len(divs) == 1
        assert divs.order.iloc[0] == 1  # the innermost (page) div wins

    def test_page_text_contract_holds_for_large_page_numbers(self):
        vid = "v"
        for i in (1, 50, 600, 2000):
            assert len(Z.page_text(vid, i)) == 1000 + i
