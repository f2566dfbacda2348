"""geoip over a synthesized spec-conformant MaxMind DB
(internal/impl/maxmind/bloblang_geoip.go)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from connect_spark.functions.geoip import (
    MmdbReader,
    MmdbWriter,
    geoip_city,
    geoip_country,
    geoip_udf,
)


@pytest.fixture(scope="module")
def mmdb() -> bytes:
    w = MmdbWriter()
    w.insert(
        "81.2.69.0/24",
        {
            "country": {"iso_code": "GB", "geoname_id": 2635167},
            "city": {"names": {"en": "London"}},
            "location": {"latitude": 51.5142, "longitude": -0.0931},
        },
    )
    w.insert(
        "192.168.0.0/16",
        {"country": {"iso_code": "US"}, "city": {"names": {"en": "Testville"}}},
    )
    w.insert("10.0.0.0/8", {"country": {"iso_code": "DE"}})
    return w.tobytes()


def test_reader_lookup_hit_and_miss(mmdb):
    r = MmdbReader(mmdb)
    rec = r.lookup("81.2.69.142")
    assert rec["country"]["iso_code"] == "GB"
    assert rec["city"]["names"]["en"] == "London"
    assert abs(rec["location"]["latitude"] - 51.5142) < 1e-9
    assert r.lookup("10.1.2.3") == {"country": {"iso_code": "DE"}}
    assert r.lookup("8.8.8.8") is None  # outside every network
    assert r.lookup("2001:db8::1") is None  # v6 against a v4 tree


def test_reader_metadata(mmdb):
    r = MmdbReader(mmdb)
    assert r.metadata["binary_format_major_version"] == 2
    assert r.record_size == 32 and r.ip_version == 4


def test_geoip_columns(spark, mmdb):
    df = spark.createDataFrame(
        [Row(ip="81.2.69.1"), Row(ip="192.168.5.5"), Row(ip="8.8.8.8"),
         Row(ip=None)]
    )
    out = df.select(
        "ip",
        geoip_country(F.col("ip"), mmdb).alias("cc"),
        geoip_city(F.col("ip"), mmdb).alias("city"),
    ).collect()
    got = {r.ip: (r.cc, r.city) for r in out}
    assert got["81.2.69.1"] == ("GB", "London")
    assert got["192.168.5.5"] == ("US", "Testville")
    assert got["8.8.8.8"] == (None, None)
    assert got[None] == (None, None)


def test_geoip_full_record_json(spark, mmdb):
    df = spark.createDataFrame([Row(ip="10.200.0.1")])
    rec = json.loads(
        df.select(geoip_udf(mmdb)(F.col("ip")).alias("j")).collect()[0].j
    )
    assert rec == {"country": {"iso_code": "DE"}}


def test_geoip_reader_cached_in_the_worker_module(tmp_path, mmdb, monkeypatch):
    """The UDF body, shipped the way a task ships it, caches its reader
    in the module's `_GEOIP_READERS`, not in a pickled copy of it, so
    each worker parses the MMDB once."""
    from pyspark import cloudpickle

    from connect_spark.bloblang import methods

    path = str(tmp_path / "db.mmdb")
    with open(path, "wb") as fh:
        fh.write(mmdb)
    bodies = []
    real_row_udf = methods.row_udf

    def capture(return_type, fn, *args):
        bodies.append(fn)
        return real_row_udf(return_type, fn, *args)

    monkeypatch.setattr(methods, "row_udf", capture)
    monkeypatch.setattr(methods, "_GEOIP_READERS", {})
    methods._geoip_method(("country",))(F.col("ip"), path)
    one = cloudpickle.loads(cloudpickle.dumps(bodies[0]))
    assert json.loads(one("81.2.69.142"))["iso_code"] == "GB"
    assert isinstance(methods._GEOIP_READERS.get(path), MmdbReader)
