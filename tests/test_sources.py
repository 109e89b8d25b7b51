"""Source-format coverage (SURVEY.md §2.1): fixed-width text scan (S5,
the HRDF analog), semicolon CSV with explicit schema (S1/S2), and the
checkpointed writer's committed-group accounting."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_fixed_width_text_scan(spark, tmp_path):
    """spark.read.text + substring/regexp parsing with cheap guard
    filters pushed before the expensive split (reference
    get_atlas_data.py:658-773 GLEISE parse with guards :678-689)."""
    lines = [
        "8503000  G 'Zuerich HB'      1  ",
        "8507000  G 'Bern'            2  ",
        "% comment line to be filtered   ",
        "8503000  X 'not a G record'  9  ",
    ]
    p = tmp_path / "fixed.txt"
    p.write_text("\n".join(lines))
    raw = spark.read.text(str(p))
    parsed = (
        raw.filter(~F.col("value").startswith("%"))  # cheap guard first
        .filter(F.substring("value", 10, 1) == "G")
        .select(
            F.substring("value", 1, 7).cast("long").alias("uic"),
            F.regexp_extract("value", r"'([^']*)'", 1).alias("name"),
            F.regexp_extract("value", r"(\d+)\s*$", 1).cast("int").alias("track"),
        )
    )
    rows = {r["uic"]: r for r in parsed.collect()}
    assert set(rows) == {8503000, 8507000}
    assert rows[8503000]["name"] == "Zuerich HB"
    assert rows[8507000]["track"] == 2


def test_fixed_width_malformed_lines_yield_nulls(spark, tmp_path):
    """One malformed numeric field must not kill the scan under ANSI
    mode (Spark 4 default): read_fixed_width / read_hrdf_gleise_like
    try_cast, so bad fields come back null and good rows survive."""
    from stop_sync_osm_atlas_spark.sources.text_formats import (
        FixedWidthField,
        read_fixed_width,
        read_hrdf_gleise_like,
    )

    p = tmp_path / "fw.txt"
    p.write_text(
        "\n".join(
            [
                "8503000  G 'Zuerich HB'      1  ",
                "85x7000  G 'Corrupt UIC'     2  ",  # non-numeric uic
                "8507000  G 'No Track'           ",  # trailing digits absent
            ]
        )
    )
    fw = read_fixed_width(
        spark,
        str(p),
        [
            FixedWidthField("uic", 1, 7, "long"),
            FixedWidthField("kind", 10, 1),
        ],
    ).collect()
    assert [r.uic for r in fw] == [8503000, None, 8507000]
    hr = {r.name: r for r in read_hrdf_gleise_like(spark, str(p)).collect()}
    assert hr["Corrupt UIC"].uic is None and hr["Corrupt UIC"].track == 2
    assert hr["No Track"].uic == 8507000 and hr["No Track"].track is None
    assert hr["Zuerich HB"].uic == 8503000 and hr["Zuerich HB"].track == 1


def test_semicolon_csv_explicit_schema(spark, tmp_path):
    """S1: ';'-separated CSV with explicit StructType, no inference
    (reference matching_script.py:183 pd.read_csv(sep=';'))."""
    from stop_sync_osm_atlas_spark.sources.text_formats import read_semicolon_csv

    p = tmp_path / "atlas.csv"
    p.write_text("sloid;number;designation\nch:1:sloid:1;8503000;Gleis 1\nch:1:sloid:2;8507000;Kante A\n")
    schema = T.StructType(
        [
            T.StructField("sloid", T.StringType()),
            T.StructField("number", T.LongType()),
            T.StructField("designation", T.StringType()),
        ]
    )
    df = read_semicolon_csv(spark, str(p), schema)
    assert df.schema == schema
    out = {r["sloid"]: r["number"] for r in df.collect()}
    assert out == {"ch:1:sloid:1": 8503000, "ch:1:sloid:2": 8507000}
    # column pruning: selecting one column must not fail schema checks
    assert df.select("designation").count() == 2


def test_sloid_split_extraction(spark):
    """X6: split-on-':' extraction (parse_stop_id / last token,
    reference get_atlas_data.py:502-549)."""
    df = spark.createDataFrame(
        pd.DataFrame({"sloid": ["ch:1:sloid:7:3:310", "ch:1:sloid:9"]})
    )
    out = df.select(
        F.element_at(F.split("sloid", ":"), -1).alias("last"),
        F.element_at(F.split("sloid", ":"), 4).alias("fourth"),
    ).collect()
    assert out[0]["last"] == "310" and out[0]["fourth"] == "7"
    assert out[1]["last"] == "9"


def test_checkpoint_group_pruning(spark, fixture_paths, tmp_path):
    """The resume path must not rewrite committed groups (partition-level
    pruning, not row-level anti-join)."""
    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA
    from stop_sync_osm_atlas_spark.sources.checkpoint import CheckpointedWriter

    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    dec = pairs.select(
        "image_id",
        F.lit("keep").alias("decision"),
        F.pmod(F.xxhash64("image_id"), F.lit(64)).cast("int").alias("part_bucket"),
    )
    w = CheckpointedWriter(str(tmp_path / "ckpt"), n_groups=4)
    w.write_group(dec, 2)
    assert w.committed_groups() == {2}
    counts = w.run(dec)
    assert set(counts) == {0, 1, 3}
    total = w.read_all(spark).count()
    assert total == pairs.count()


def test_read_osm_xml(spark, tmp_path):
    """S4: OSM node XML with tag pivot (reference get_osm_data.py:64-88)."""
    from stop_sync_osm_atlas_spark.sources.text_formats import read_osm_xml

    xml = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
  <node id="101" lat="46.948" lon="7.447">
    <tag k="public_transport" v="platform"/>
    <tag k="uic_ref" v="8507000"/>
    <tag k="name" v="Bern"/>
  </node>
  <node id="102" lat="47.378" lon="8.540">
    <tag k="uic_ref" v="8503000"/>
  </node>
  <node id="103" lat="46.005" lon="8.953"/>
  <node id="104" lat="46.516" lon="6.629">
    <tag k="name" v="Lausanne"/>
    <tag k="name" v="Losanna"/>
  </node>
</osm>
"""
    p = tmp_path / "nodes.xml"
    p.write_text(xml)
    out = read_osm_xml(spark, str(p)).toPandas().set_index("node_id").sort_index()
    assert list(out.index) == [101, 102, 103, 104]
    assert out.loc[101, "public_transport"] == "platform"
    assert out.loc[101, "uic_ref"] == "8507000"
    assert out.loc[102, "uic_ref"] == "8503000"
    assert pd.isna(out.loc[102, "name"])
    # node with no tags at all -> all tag columns null
    assert pd.isna(out.loc[103, "uic_ref"]) and pd.isna(out.loc[103, "name"])
    assert abs(out.loc[103, "lat"] - 46.005) < 1e-9
    # ONE malformed node with a duplicate tag key must not fail the
    # import (map_from_entries' EXCEPTION dedup policy would throw):
    # first occurrence wins
    assert out.loc[104, "name"] == "Lausanne"


def test_read_zip_csv(spark, tmp_path):
    """S6 (local half): distributed zip extraction with explicit schema."""
    import zipfile

    from pyspark.sql import types as T

    from stop_sync_osm_atlas_spark.sources.text_formats import read_zip_csv

    for day in (1, 2):
        with zipfile.ZipFile(tmp_path / f"feed_{day}.zip", "w") as zf:
            zf.writestr(
                "stops.txt",
                "stop_id,stop_name,stop_lat\n"
                f"85{day}:0:1,Bern,46.948\n"
                f"85{day}:0:2,Basel,47.547\n",
            )
            zf.writestr("ignore.bin", b"\x00\x01")
    schema = T.StructType(
        [
            T.StructField("stop_id", T.StringType()),
            T.StructField("stop_name", T.StringType()),
            T.StructField("stop_lat", T.DoubleType()),
        ]
    )
    out = read_zip_csv(spark, str(tmp_path / "*.zip"), "stops.txt", schema).toPandas()
    assert len(out) == 4
    assert set(out.stop_name) == {"Bern", "Basel"}
    assert out.stop_lat.dtype == "float64"
    assert sorted(out.stop_id)[0] == "851:0:1"
