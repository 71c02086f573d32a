"""Tests of the benchmark itself: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import filecmp
import io
import json
import os
import sys
import zipfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen_ates  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


# --- generators ----------------------------------------------------------------


def _write_ates(seed: int, out) -> str:
    tabs, meta = gen_ates.generate(seed, n_areas=40, median=10)
    gen_ates.write(tabs, meta, str(out))
    return str(out)


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_ates_generator_is_deterministic_per_seed(tmp_path):
    a = _write_ates(7, tmp_path / "a")
    b = _write_ates(7, tmp_path / "b")
    c = _write_ates(8, tmp_path / "c")
    assert _same_files(a, b)
    assert not _same_files(a, c)


def test_tables_generator_is_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen_tables.write(gen_tables.generate(seed, 0.0005), str(tmp_path / name))
    assert _same_files(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_files(str(tmp_path / "a"), str(tmp_path / "c"))


def test_ates_corpus_shape_and_expected_counts(tmp_path):
    tabs, meta = gen_ates.generate(5)
    assert meta["largest_area_features"] >= 100 * meta["median_area_features"]
    out = str(tmp_path)
    gen_ates.write(tabs, meta, out)
    con = duckdb.connect()
    # decision points without warnings drop out of the inner join
    kept = dict(con.sql(f"""
        SELECT d.area_id, count(DISTINCT d.id) FROM '{out}/decision_points.parquet' d
        JOIN '{out}/decision_points_warnings.parquet' w ON w.decision_point_id = d.id
        GROUP BY 1""").fetchall())
    for area, counts in meta["per_area"].items():
        assert counts["decision_points"] == kept.get(int(area), 0)
    per_type = con.sql(f"""
        SELECT max(n), min(n) FROM (
          SELECT decision_point_id, type, count(*) n
          FROM '{out}/decision_points_warnings.parquet' GROUP BY ALL)""").fetchone()
    assert per_type[0] <= 3 and per_type[1] >= 1
    assert con.sql(f"SELECT count(DISTINCT type) FROM '{out}/decision_points_warnings.parquet'"
                   ).fetchone()[0] == 2
    # polygons: 20-120 distinct vertices per outer ring, some with holes
    rings = con.sql(f"""
        SELECT json_array_length(geom_json, '$.coordinates[0]') - 1 AS n,
               json_array_length(geom_json, '$.coordinates') AS rings
        FROM '{out}/zones.parquet'""").fetchall()
    assert all(20 <= n <= 120 for n, _r in rings)
    assert any(r == 2 for _n, r in rings)
    # clustered by area id, like an indexed table
    ids = [r[0] for r in con.sql(f"SELECT area_id FROM '{out}/zones.parquet'").fetchall()]
    assert ids == sorted(ids)


# --- statistics ----------------------------------------------------------------


@pytest.mark.parametrize("n", [0, 1, 10, 11, 12, 25, 100, 1000])
def test_tail_keeps_ten_samples_beyond(n):
    samples = [float((i * 7919) % 1009) + i / 1e4 for i in range(n)]
    got = run.tail(samples)
    if n < 11:
        assert got is None
        return
    pct, value = got
    assert sum(1 for s in samples if s > value) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_union_length_and_self_times():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    recs = [
        {"id": 1, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "child", "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "child", "parent": 1, "start": 3.0, "end": 5.0},
    ]
    self_t = spans.self_times(recs)
    assert self_t["op"] == pytest.approx(6.0)
    assert self_t["child"] == pytest.approx(5.0)


def test_metric_text_parsing():
    assert spans._metric_value("10,000") == 10000
    assert spans._metric_value(
        "total (min, med, max (stageId: taskId))\n160.6 KiB (53.5 KiB, 53.5 KiB, 53.6 KiB (stage 2.0: task 3))"
    ) == pytest.approx(160.6 * 1024)
    assert spans._metric_value("total (min, med, max)\n5.3 s (1 ms, 2 ms, 3 ms)") == 5300


# --- Spark accounting ------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.shuffle.partitions", "1")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


def test_job_group_aggregation_is_exact(spark):
    """Two actions in one group: a count (map stage of 4 tasks, reduce stage
    of 1) and a collect (1 stage of 4 tasks), plus a Python map over 10
    rows in a third group."""
    sc = spark.sparkContext
    acct = spans.SparkAccounting(spark)
    sc.setJobGroup("two-jobs", "test")
    df = spark.range(0, 100, 1, 4)
    assert df.count() == 100
    assert len(df.collect()) == 100
    stats, jobs = acct.op_stats("two-jobs")
    assert (stats["jobs"], stats["stages"], stats["tasks"], stats["failed_tasks"]) == (2, 3, 9, 0)
    assert len(jobs) == 2 and all(end >= start for _j, start, end in jobs)
    assert stats["shuffle_write_bytes"] > 0 and stats["shuffle_read_bytes"] > 0
    assert stats["job_busy_ms"] <= 1000.0 * (max(e for _j, _s, e in jobs) - min(s for _j, s, _e in jobs)) + 1e-6
    assert stats["rows_from_python"] == 0

    def same(batches):
        yield from batches

    sc.setJobGroup("python", "test")
    spark.range(0, 10, 1, 2).mapInPandas(same, "id long").collect()
    stats, _jobs = acct.op_stats("python")
    assert stats["rows_from_python"] == 10
    assert stats["bytes_to_python"] > 0


# --- output checkers -------------------------------------------------------------

_EXPECTED = {"areas_vw": 1, "points_of_interest": 2, "access_roads": 0,
             "avalanche_paths": 1, "decision_points": 3, "zones": 2}


def _kmz(counts: dict[str, int], *, styles: int = 14, broken: bool = False) -> bytes:
    folders = "".join(
        "<Folder>" + "<Placemark><name>p</name></Placemark>" * counts[t] + f"<name>{t}</name></Folder>"
        for t in checks.TABLE_ORDER)
    style = "".join(f'<Style id="s{i}"/>' for i in range(styles))
    kml = ('<?xml version="1.0" encoding="UTF-8"?><kml xmlns="http://www.opengis.net/kml/2.2">'
           f"<Document>{folders}{style}<name>doc</name></Document></kml>")
    if broken:
        kml = kml.replace("</Document>", "")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("doc.kml", kml)
    return buf.getvalue()


def test_check_kmz_accepts_a_good_archive():
    assert checks.check_kmz(_kmz(_EXPECTED), _EXPECTED) == []


def test_check_kmz_rejects_corruption():
    good = _kmz(_EXPECTED)
    assert checks.check_kmz(good[: len(good) // 2], _EXPECTED)
    assert checks.check_kmz(_kmz(_EXPECTED, broken=True), _EXPECTED)
    assert checks.check_kmz(_kmz(_EXPECTED, styles=13), _EXPECTED)
    assert checks.check_kmz(_kmz({**_EXPECTED, "zones": 1}), _EXPECTED)


def _restamped(body: bytes, when) -> bytes:
    """``body`` rewritten with every member stamped ``when``."""
    buf = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(body)) as src, zipfile.ZipFile(buf, "w") as zf:
        for zi in src.infolist():
            zi.date_time = when
            zf.writestr(zi, src.read(zi.filename))
    return buf.getvalue()


def test_check_repeat_rejects_other_bytes():
    first = _kmz(_EXPECTED)
    assert checks.check_repeat(first, first) == []
    assert checks.check_repeat(first, _kmz({**_EXPECTED, "zones": 1}))
    # written at another time: only the last-modified fields differ
    again = _restamped(first, (1999, 1, 1, 0, 0, 0))
    assert again != first and checks.check_repeat(first, again) == []
    # any other byte differs: a member name, compressed data, a truncation
    renamed = first.replace(b"doc.kml", b"doc.kmx")
    assert checks.check_repeat(first, renamed) == ["repeat returned other bytes"]
    stored = bytearray(again)
    stored[len(stored) // 3] ^= 0xFF
    assert checks.check_repeat(first, bytes(stored)) == ["repeat returned other bytes"]
    assert checks.check_repeat(first, first[:-1]) == ["repeat returned other bytes"]


def _ndjson(tmp_path, counts: dict[str, int]) -> list[str]:
    paths = []
    for table in checks.TABLE_ORDER:
        d = tmp_path / table
        d.mkdir(parents=True)
        feat = {"type": "Feature", "geometry": None, "properties": {"table": table}}
        (d / "part-00000.txt").write_text("".join(json.dumps(feat) + "\n" for _ in range(counts[table])))
        paths.append(str(d))
    return paths


def test_check_ndjson_accepts_and_rejects_a_short_table(tmp_path):
    assert checks.check_ndjson(_ndjson(tmp_path / "good", _EXPECTED), _EXPECTED) == []
    short = _ndjson(tmp_path / "short", {**_EXPECTED, "decision_points": 2})
    assert checks.check_ndjson(short, _EXPECTED) == ["decision_points: 2 lines, want 3"]
    bad = _ndjson(tmp_path / "bad", _EXPECTED)
    with open(os.path.join(bad[1], "part-00000.txt"), "a") as fh:
        fh.write("not json\n")
    assert checks.check_ndjson(bad, _EXPECTED)


def test_check_result_rejects_a_wrong_row_count():
    ref = [(1, "a", 2.0), (2, "b", None)]
    # order-insensitive, and a DuckDB integer equals a Spark double
    assert checks.check_result(["k", "v", "x"], [(2, "b", None), (1, "a", 2)], ["k", "v", "x"], ref) == []
    assert checks.check_result(["k", "v", "x"], ref[:1], ["k", "v", "x"], ref)
    assert checks.check_result(["k", "v", "x"], [(1, "a", 2.0), (2, "c", None)], ["k", "v", "x"], ref)
