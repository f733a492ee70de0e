"""Interactive dashboard server over the gold marts, zero deps (stdlib).

The live dashboard: the reference ships a LIVE
Streamlit app (streamlit_app/app.py) that recomputes each tab's frames on
demand; tools/dashboard_export.py already renders every tab statically,
and this serves the SAME rendering behind a long-lived SparkSession with
on-request recomputation -- hit "Refresh data" (GET /?refresh=1) after new
pipeline output lands in the mart zone and the tabs rebuild from Spark,
which is the interactive behavior Streamlit provides, minus the
out-of-engine dependency (SURVEY.md EP4 keeps Streamlit/Plotly out).

Design: one background SparkSession, one cached rendered document; GET /
serves the cache, GET /?refresh=1 recomputes frames (Spark) and re-renders
before responding; GET /healthz reports readiness without touching Spark.
Single-threaded HTTP on purpose -- the server is a BI surface for a human,
not a query engine; concurrent refreshes would just queue identical Spark
jobs.

Usage:  python tools/dashboard_serve.py [sf_dir] [port]
Default sf_dir /root/testdata/sf0.001, port 8601. Serves until Ctrl-C.
"""

from __future__ import annotations

import os
import sys
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dashboard_export import build_frames, render_html  # noqa: E402

_REFRESH_BAR = (
    '<div style="padding:8px 16px;border-bottom:1px solid #8883">'
    '<a href="/?refresh=1" style="font:13px system-ui;text-decoration:none">'
    "&#8635; Refresh data</a>"
    '<span style="font:12px system-ui;opacity:.6;margin-left:12px">'
    "tabs recompute in Spark on refresh</span></div>"
)


class DashboardServer:
    """Owns the SparkSession and the rendered-document cache; the HTTP
    handler delegates here so tests can drive it without sockets."""

    def __init__(self, spark, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._doc: str | None = None

    def document(self, refresh: bool = False) -> str:
        if self._doc is None or refresh:
            frames = build_frames(self.spark, self.sf_dir)
            doc = render_html(frames, self.sf_dir)
            # inject the refresh control right after the opening body tag
            # (rendered as <body class='viz-root'>)
            head, sep, tail = doc.partition("<body")
            close = tail.index(">") + 1
            self._doc = head + sep + tail[:close] + _REFRESH_BAR + tail[close:]
        return self._doc

    def handler_class(self):
        srv = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib naming)
                if self.path.startswith("/healthz"):
                    body = b"ok"
                    self.send_response(200)
                    self.send_header("Content-Type", "text/plain")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                refresh = "refresh=1" in self.path
                body = srv.document(refresh=refresh).encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, fmt, *args):  # quiet by default
                print(f"# {self.address_string()} {fmt % args}", file=sys.stderr)

        return Handler


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    port = int(sys.argv[2]) if len(sys.argv) > 2 else 8601
    from aws_glue_cdc_metrics_job_spark.session import get_spark

    srv = DashboardServer(get_spark(app_name="dashboard-serve"), sf_dir)
    srv.document()  # build the first render before accepting requests
    httpd = HTTPServer(("127.0.0.1", port), srv.handler_class())
    print(f"serving dashboard on http://127.0.0.1:{port} (sf_dir={sf_dir})")
    httpd.serve_forever()


if __name__ == "__main__":
    main()
