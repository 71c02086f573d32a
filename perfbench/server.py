"""The KMZ service as its own process, for the ``kmz_http`` workload.

Starts Spark, opens the catalog over the generated corpus and serves
``GET /{lang}/{area}.kmz`` through ``service.serve`` on an ephemeral port,
which it writes to ``--port-file``. It stops when its standard input
closes.

With ``--trace 1`` the handler comes from ``service.make_handler`` with an
``export_kmz`` that runs each request in its own Spark job group and
records spans around the export's calls into ``plans.area_export`` and
the sinks. Per-request records and spans are kept in memory and written
to ``--trace-out`` once, at exit.

Usage: ``python3 perfbench/server.py --data DIR --port-file F [--trace 1 --trace-out F]``
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
from http.server import ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as tr  # noqa: E402  (perfbench/spans.py)

OP_HEADER = "X-Perfbench-Op"


def traced_server(spark, catalog):
    """ThreadingHTTPServer over ``make_handler`` with a traced exporter;
    returns (server, tracer, per-request records)."""
    from database2ogr_spark import service
    from database2ogr_spark.plans import area_export
    from database2ogr_spark.sinks import geojson, kml

    tracer = tr.Tracer()
    acct = tr.SparkAccounting(spark)
    records: list[dict] = []

    def count_placemarks(rec, args, kwargs, result):
        rec["placemarks"] = result.count("<Placemark>")
        rec["kml_bytes"] = len(result.encode("utf-8"))

    def kmz_size(rec, args, kwargs, result):
        rec["kmz_bytes"] = os.path.getsize(result)

    tracer.wrap(area_export, "build_table_dfs", "build_table_dfs")
    tracer.wrap(area_export, "_apply_warnify", "_apply_warnify")
    tracer.wrap(kml, "kml_document", "kml_document", count_placemarks)
    tracer.wrap(geojson, "guard_driver_rows", "guard_driver_rows")
    tracer.wrap(kml, "write_kmz", "write_kmz", kmz_size)

    def export_kmz(catalog, area_id, out_path, **kwargs):
        op = tracer.op
        group = f"op-{op}"
        spark.sparkContext.setJobGroup(group, f"kmz {area_id}")
        with tracer.span("export_kmz") as rec:
            result = area_export.export_kmz(catalog, area_id, out_path, **kwargs)
        stats, jobs = acct.op_stats(group)
        for j, start, end in jobs:
            tracer.add({"name": "spark.job", "op": op, "parent": None,
                        "start": start, "end": end, "job": j})
        records.append({"op": op, "area": int(area_id), "export_s": rec["end"] - rec["start"],
                        "spark": stats})
        return result

    base = service.make_handler(catalog, export_kmz=export_kmz)

    class Handler(base):
        def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler API
            with tracer.operation(self.headers.get(OP_HEADER)):
                with tracer.span("service.request"):
                    super().do_GET()

    return ThreadingHTTPServer(("127.0.0.1", 0), Handler), tracer, records


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--trace-out")
    a = ap.parse_args(argv)

    from database2ogr_spark import service
    from database2ogr_spark.schemas import ATES_SCHEMAS
    from database2ogr_spark.session import get_spark
    from database2ogr_spark.sources.catalog import Catalog

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    catalog = Catalog(spark, a.data, ATES_SCHEMAS)
    if a.trace:
        server, tracer, records = traced_server(spark, catalog)
    else:
        server = service.serve(catalog, port=0)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    tmp = a.port_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(server.server_address[1]))
    os.replace(tmp, a.port_file)

    sys.stdin.read()  # the benchmark closes our stdin to stop us
    server.shutdown()
    thread.join()
    server.server_close()
    if a.trace:
        for s in tracer.spans:  # attach Spark jobs to the span that ran them
            if s["name"] == "spark.job":
                s["parent"] = tr.parent_of(
                    [x for x in tracer.spans if x["name"] != "spark.job"], s["op"], s["start"])
        with open(a.trace_out, "w") as fh:
            json.dump({"records": records, "spans": tracer.spans}, fh)
    spark.stop()


if __name__ == "__main__":
    main()
