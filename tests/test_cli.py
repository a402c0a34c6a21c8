"""CLI smoke tests (reference test/cli.test.js:16-67 parity: exit
codes, --sources subsetting incl. missing-source error) plus the
compress option-validation contract (src/shave.cpp:412-446)."""

import json
from collections import Counter

import pytest

from vtshaver_spark import errors as E
from vtshaver_spark.cli import main
from vtshaver_spark.errors import ShaveError, validate_compress

SF_TILE = "/root/reference/test/fixtures/tiles/sf_16_10465_25329.vector.pbf"


@pytest.fixture()
def style_file(tmp_path):
    p = tmp_path / "style.json"
    p.write_text(
        json.dumps(
            {
                "layers": [
                    {"source-layer": "poi_label", "filter": ["==", "maki", "cafe"]},
                    {"source-layer": "water"},
                ]
            }
        )
    )
    return str(p)


def test_filters_cli(style_file, capsys):
    rc = main(["filters", "--style", style_file, "--pretty"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert set(out) == {"poi_label", "water"}


def test_filters_cli_sources_subset(style_file, capsys):
    rc = main(["filters", "--style", style_file, "--sources", "water"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert set(out) == {"water"}


def test_filters_cli_missing_source(style_file, capsys):
    rc = main(["filters", "--style", style_file, "--sources", "nope"])
    assert rc == 1
    assert "nope" in capsys.readouterr().err


def test_compress_validation_messages():
    assert validate_compress(None) is False
    assert validate_compress(True) is True
    assert validate_compress({"type": "gzip"}) is True
    assert validate_compress({"type": "none"}) is False
    assert validate_compress({"type": "gzip", "level": 6}) is True
    with pytest.raises(ShaveError, match="not provided"):
        validate_compress({})
    with pytest.raises(ShaveError) as ex:
        validate_compress({"type": 5})
    assert str(ex.value) == E.MSG_COMPRESS_TYPE
    with pytest.raises(ShaveError) as ex:
        validate_compress({"type": "zstd"})
    assert str(ex.value) == E.MSG_COMPRESS_UNKNOWN
    with pytest.raises(ShaveError) as ex:
        validate_compress({"type": "gzip", "level": -1})
    assert str(ex.value) == E.MSG_COMPRESS_LEVEL
    with pytest.raises(ShaveError, match="at most 9"):
        validate_compress({"type": "gzip", "level": 10})


def test_shave_tile_cli(style_file, tmp_path, capsys):
    out_file = str(tmp_path / "shaved.mvt")
    rc = main(
        [
            "shave-tile",
            "--tile", SF_TILE,
            "--style", style_file,
            "--zoom", "16",
            "--out", out_file,
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # cafe style keeps poi_label(1 cafe feature) + water keep-all(3)
    assert report["features_after"] == 4
    assert 0 < report["bytes_after"] < report["bytes_before"]

    from vtshaver_spark.sources.mvt import tile_to_rows

    with open(out_file, "rb") as f:
        rows = tile_to_rows(f.read())
    by_layer = {}
    for r in rows:
        by_layer[r["layer"]] = by_layer.get(r["layer"], 0) + 1
    assert by_layer == {"poi_label": 1, "water": 3}


def test_shave_cli_with_vertices(spark, tmp_path, capsys):
    """--vertices routes a within style filter through full-geometry
    evaluation in the batch shave CLI: the hole-crossing LineString is
    dropped even though all its vertices are in the fill."""
    donut = {
        "type": "Polygon",
        "coordinates": [
            [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]],
            [[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0], [4.0, 4.0]],
        ],
    }
    style_p = tmp_path / "wstyle.json"
    style_p.write_text(json.dumps(
        {"layers": [{"source-layer": "road", "filter": ["within", donut]}]}
    ))
    feats = spark.createDataFrame(
        [
            (16, 0, 0, "road", 1, "LineString", {"class": "street"}),
            (16, 0, 0, "road", 3, "LineString", {"class": "street"}),
        ],
        "z int, x bigint, y bigint, layer string, feature_id bigint, "
        "geom_type string, props map<string,string>",
    )
    verts = spark.createDataFrame(
        [
            (16, 0, 0, "road", 1, "LineString", 0, 0, 3.0, 5.0),
            (16, 0, 0, "road", 1, "LineString", 0, 1, 7.0, 5.0),  # crosses hole
            (16, 0, 0, "road", 3, "LineString", 0, 0, 1.0, 1.0),
            (16, 0, 0, "road", 3, "LineString", 0, 1, 2.0, 1.5),
        ],
        "z int, x bigint, y bigint, layer string, feature_id bigint, "
        "geom_type string, path_idx int, vertex_idx int, lon double, lat double",
    )
    fin = str(tmp_path / "feats.parquet")
    vin = str(tmp_path / "verts.parquet")
    feats.write.parquet(fin)
    verts.write.parquet(vin)
    out = str(tmp_path / "out")
    rc = main([
        "shave", "--style", str(style_p), "--input", fin, "--output", out,
        "--zoom", "16", "--maxzoom", "16", "--vertices", vin,
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["features_before"] == 2 and report["features_after"] == 1
    kept = {r["feature_id"] for r in spark.read.parquet(out + "/shaved").collect()}
    assert kept == {3}


def test_shave_cli_jobs_and_observed_summary(spark, features, style_file, tmp_path, capsys):
    """``cli shave`` runs 4 Spark jobs (input schema, shaved write, the
    metrics write's shuffle and result stages): the printed summary is
    observed on the metrics write, not read back. Two calls in one
    session each print the sums of the metrics parquet they wrote."""
    from pyspark.sql import functions as F

    cols = ("features_before", "features_after", "prop_bytes_before", "prop_bytes_after")
    fin = str(tmp_path / "feats.parquet")
    features.write.parquet(fin)
    road_p = tmp_path / "road.json"
    road_p.write_text(json.dumps({"layers": [{
        "source-layer": "road", "filter": ["==", "class", "street"],
        "paint": {"line-width": ["get", "type"]},
    }]}))
    sc = spark.sparkContext
    summaries, jobs = [], []
    for i, style in enumerate((style_file, str(road_p))):
        out = str(tmp_path / f"out{i}")
        group = f"cli-shave-jobs-{i}"
        sc.setJobGroup(group, "cli shave")
        try:
            rc = main([
                "shave", "--style", style, "--input", fin, "--output", out,
                "--zoom", "16",
            ])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rc == 0
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        written = spark.read.parquet(out + "/metrics").agg(
            *[F.sum(c).alias(c) for c in cols]
        ).first().asDict()
        assert summary == written
        summaries.append(summary)
    assert jobs == [4, 4]
    assert summaries[0] != summaries[1]
    assert summaries[0]["features_before"] == features.count()


def test_shave_tile_cli_matches_shave(spark, style_file, tmp_path, capsys):
    """shave-tile on an in-repo multi-layer tile: the written tile
    decodes to exactly what ``shave`` keeps of the same rows, and the
    report counts features before and after."""
    from vtshaver_spark import Filters, style_to_filters
    from vtshaver_spark.operators.shave import shave
    from vtshaver_spark.sources.mvt import (
        MVT_ROW_FIELDS,
        MVT_ROW_SCHEMA,
        rows_to_tile,
        tile_to_rows,
    )

    point = bytes([0x09, 2, 2])
    line = bytes([0x09, 0, 0, 0x0A, 4, 4])
    square = bytes([0x09, 0, 0, 0x1A, 4, 0, 0, 4, 3, 0, 0x0F])

    def feat(layer, fid, geom_type, geometry, props):
        return {
            "layer": layer, "feature_id": fid, "geom_type": geom_type,
            "geometry": geometry, "props": props,
            "prop_types": {k: "string" for k in props},
        }

    tile = rows_to_tile([
        feat("poi_label", 1, "Point", point, {"maki": "cafe", "name": "A"}),
        feat("poi_label", 2, "Point", point, {"maki": "bar", "name": "B"}),
        feat("poi_label", None, "Point", point, {"maki": "cafe"}),
        feat("water", 10, "Polygon", square, {"class": "lake"}),
        feat("water", 2**64 - 1, "Polygon", square, {}),
        feat("road", 20, "LineString", line, {"class": "street"}),
    ])
    tile_path = tmp_path / "in.mvt"
    tile_path.write_bytes(tile)
    out_file = tmp_path / "out.mvt"
    rc = main([
        "shave-tile", "--tile", str(tile_path), "--style", style_file,
        "--zoom", "16", "--out", str(out_file),
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["features_before"] == 6
    assert report["features_after"] == 4
    assert report["bytes_after"] == out_file.stat().st_size

    def key(r):
        return (
            r["layer"], r["layer_version"], r["layer_extent"], r["feature_id"],
            r["geom_type"], bytes(r["geometry"]),
            tuple(sorted((k, v, r["prop_types"][k]) for k, v in r["props"].items())),
        )

    with open(style_file) as f:
        filters = Filters(style_to_filters(json.load(f)))
    df = spark.createDataFrame(
        [tuple(r[c] for c in MVT_ROW_FIELDS) for r in tile_to_rows(tile)],
        MVT_ROW_SCHEMA,
    )
    expected = Counter(key(r) for r in shave(df, filters, zoom=16).collect())
    got = Counter(key(r) for r in tile_to_rows(out_file.read_bytes()))
    assert got == expected
    assert {(k[0], k[3]) for k in got} == {
        ("poi_label", 1), ("poi_label", None), ("water", 10), ("water", -1)
    }


def test_shave_cli_stops_owned_session_on_failure(style_file, tmp_path, monkeypatch):
    """A session ``cli shave`` creates is stopped when the job fails."""
    from pyspark.sql import SparkSession

    import vtshaver_spark.session as session_mod

    class Reader:
        def parquet(self, path):
            raise FileNotFoundError(path)

    class StubSession:
        read = Reader()
        stopped = False

        def stop(self):
            self.stopped = True

    stub = StubSession()
    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    monkeypatch.setattr(session_mod, "build_session", lambda **kw: stub)
    with pytest.raises(FileNotFoundError):
        main([
            "shave", "--style", style_file, "--input", str(tmp_path / "missing"),
            "--output", str(tmp_path / "out"),
        ])
    assert stub.stopped


@pytest.mark.parametrize("damage", ["truncated", "bit_flipped"])
def test_shave_tile_cli_malformed_tile(damage, style_file, tmp_path, capsys, monkeypatch):
    """A malformed tile is reported as ``Error: <MVTError message>``
    with exit status 1, before any Spark session starts and without
    writing ``--out``."""
    from pyspark.sql import SparkSession

    import vtshaver_spark.session as session_mod
    from vtshaver_spark.sources.mvt import MVTError, rows_to_tile, tile_to_rows

    tile = rows_to_tile([{
        "layer": "poi_label", "feature_id": 1, "geom_type": "Point",
        "geometry": bytes([0x09, 2, 2]), "props": {"maki": "cafe"},
        "prop_types": {"maki": "string"},
    }])
    bad = tile[:-3] if damage == "truncated" else bytes([tile[0] ^ 0x01]) + tile[1:]
    with pytest.raises(MVTError) as ex:
        tile_to_rows(bad)
    tile_path = tmp_path / "bad.mvt"
    tile_path.write_bytes(bad)
    out_file = tmp_path / "out.mvt"

    def no_session(**kw):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    monkeypatch.setattr(session_mod, "build_session", no_session)
    rc = main([
        "shave-tile", "--tile", str(tile_path), "--style", style_file,
        "--zoom", "16", "--out", str(out_file),
    ])
    assert rc == 1
    captured = capsys.readouterr()
    assert captured.err == f"Error: {ex.value}\n"
    assert captured.out == ""
    assert not out_file.exists()


@pytest.mark.parametrize("cmd", ["shave", "shave-tile"])
@pytest.mark.parametrize(
    "layer,message",
    [
        ({"filter": ["==", ["slice"], "x"]}, "'slice' expects 2 to 3 argument(s)"),
        ({"minzoom": -1}, E.MSG_MINZOOM_POSITIVE),
        ({"filter": ["all", ["==", "class", "river"], ["==", ["get", "x"], 1]]}, E.MSG_MIXED_FILTER),
    ],
    ids=["filter-error", "shave-error", "mixed-filter"],
)
def test_cli_bad_style_is_an_error_line(cmd, layer, message, tmp_path, capsys, monkeypatch):
    """A style ``Filters`` rejects is reported as ``Error: <message>``
    with exit status 1, before any Spark session starts."""
    from pyspark.sql import SparkSession

    import vtshaver_spark.session as session_mod
    from vtshaver_spark.sources.mvt import rows_to_tile

    style = tmp_path / "bad.json"
    style.write_text(json.dumps({"layers": [{"source-layer": "poi_label", **layer}]}))
    tile = tmp_path / "ok.mvt"
    tile.write_bytes(rows_to_tile([{
        "layer": "poi_label", "feature_id": 1, "geom_type": "Point",
        "geometry": bytes([0x09, 2, 2]), "props": {}, "prop_types": {},
    }]))

    def no_session(**kw):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    monkeypatch.setattr(session_mod, "build_session", no_session)
    if cmd == "shave":
        argv = ["shave", "--input", str(tmp_path / "in"), "--output", str(tmp_path / "out")]
    else:
        argv = ["shave-tile", "--tile", str(tile), "--zoom", "16"]
    assert main([*argv, "--style", str(style)]) == 1
    captured = capsys.readouterr()
    assert captured.err == f"Error: {message}\n"
    assert captured.out == ""
