"""HTTP query service (S12): the reference's axum server re-expressed over
the Spark engine — `GET /health`, `GET /metrics`, `POST /query
{"query": [f32...], "top_k": k, "probe": p} → {"ids": [...], "scores":
[...]}` (request/response shape: crates/service/src/main.rs:55-66, routes
:83-88).

Stdlib-only (http.server.ThreadingHTTPServer on a daemon thread): the point
is the SERVING CONTRACT over a loaded model, not a web framework. Each
request runs a one-row query batch through the same `search()` plan the
batch path uses — a model served from cluster_id-partitioned Parquet with
the probe-pruned scan, so latency is a partition-pruned read + the codegen
estimator, exactly the reference's serve-from-disk flow
(crates/disk/src/disk.rs load_from_dir + query).

Production note: one HTTP process per SparkSession is the local/edge serving
form. At cluster scale, batch queries through `search()` (thousands of
queries per job) remain the throughput path — the service exists for parity
and for low-rate online lookups against the same artifacts.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from rabitq_spark.index.model import RaBitQModel
from rabitq_spark.index.search import search


class SearchService:
    """Serve a RaBitQ model over HTTP. Use as a context manager or call
    start()/stop(); `port=0` binds an ephemeral port (see `self.port`)."""

    def __init__(
        self,
        spark: SparkSession,
        model: RaBitQModel,
        default_topk: int = 10,
        default_nprobe: int | None = None,
    ) -> None:
        self.spark = spark
        self.model = model
        self.default_topk = default_topk
        self.default_nprobe = default_nprobe or model.config.nprobe
        self.n_queries = 0
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self.port: int | None = None

    # -- request handling --------------------------------------------------

    def _query(self, payload: dict) -> dict:
        # arg surface mirrors the reference service (top_k/probe are u32 in
        # crates/service/src/main.rs:55-60 — negatives are unrepresentable
        # there; reject them and out-of-range probes here with a 400)
        vec = payload["query"]
        if not isinstance(vec, list) or len(vec) == 0:
            raise ValueError("query must be a non-empty array of numbers")
        dim = getattr(self.model, "dim", None)
        if dim is not None and len(vec) != dim:
            raise ValueError(f"query dim {len(vec)} != model dim {dim}")
        topk = int(payload.get("top_k", self.default_topk))
        if topk < 1:
            raise ValueError("top_k must be >= 1")
        nprobe = int(payload.get("probe", self.default_nprobe))
        if not 1 <= nprobe <= self.model.n_clusters:
            raise ValueError(
                f"probe must be in [1, {self.model.n_clusters}]"
            )
        qdf = self.spark.createDataFrame(
            [(0, [float(x) for x in vec])], "query_id long, qvec array<double>"
        )
        # ranked on the driver: a bounded search() returns a local
        # relation, which collects without a job, and a Spark sort over it
        # would run one
        rows = sorted(
            search(self.model, qdf, topk=topk, nprobe=nprobe).collect(),
            key=lambda r: r["rank"],
        )
        self.n_queries += 1
        return {
            "ids": [r["neighbor_id"] for r in rows],
            "scores": [r["dist"] for r in rows],
        }

    def _metrics(self) -> str:
        return f"queries_total {self.n_queries}\n"

    # -- lifecycle ---------------------------------------------------------

    def start(self, port: int = 0) -> int:
        svc = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args) -> None:  # quiet test output
                pass

            def _send(self, code: int, body: bytes, ctype: str) -> None:
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self) -> None:
                if self.path in ("/", "/health"):
                    self._send(200, b"Ok", "text/plain")
                elif self.path == "/metrics":
                    self._send(200, svc._metrics().encode(), "text/plain")
                else:
                    self._send(404, b"not found", "text/plain")

            def do_POST(self) -> None:
                if self.path != "/query":
                    self._send(404, b"not found", "text/plain")
                    return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    payload = json.loads(self.rfile.read(n) or b"{}")
                    out = svc._query(payload)
                    self._send(200, json.dumps(out).encode(), "application/json")
                except Exception as e:  # noqa: BLE001 — surface as 400
                    self._send(
                        400, json.dumps({"error": str(e)}).encode(), "application/json"
                    )

        self._server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None

    def __enter__(self) -> "SearchService":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()
