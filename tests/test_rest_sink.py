"""REST sink (S12) exercised against a local in-process HTTP server — the
reference's HydroShare upload surface (HydroShareUtility.py:420-446,505-549)
without any external network."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from h2outility_spark.sinks.rest_sink import RestUploader, post_json_partitions


class _State:
    def __init__(self):
        self.lock = threading.Lock()
        self.resources: dict[str, dict] = {}
        self.files: dict[tuple[str, str], bytes] = {}
        self.posted_rows: list[dict] = []
        self.n_posts = 0


def _make_handler(state: _State):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # silence
            pass

        def _body(self) -> bytes:
            n = int(self.headers.get("Content-Length", 0))
            return self.rfile.read(n) if n else b""

        def _reply(self, code: int, obj: dict | None = None) -> None:
            data = json.dumps(obj or {}).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self):
            body = self._body()
            parts = self.path.strip("/").split("/")
            with state.lock:
                if self.path == "/resource":
                    rid = f"res{len(state.resources)}"
                    state.resources[rid] = json.loads(body)
                    self._reply(201, {"resource_id": rid})
                elif len(parts) == 4 and parts[0] == "resource" and parts[2] == "files":
                    state.files[(parts[1], parts[3])] = body
                    self._reply(200, {"ok": True})
                elif self.path == "/ingest":
                    state.posted_rows.extend(json.loads(body))
                    state.n_posts += 1
                    self._reply(200, {"ok": True})
                else:
                    self._reply(404)

        def do_DELETE(self):
            parts = self.path.strip("/").split("/")
            with state.lock:
                key = (parts[1], parts[3])
                if key in state.files:
                    del state.files[key]
                    self._reply(200, {"ok": True})
                else:
                    self._reply(404)

        def do_PUT(self):
            body = self._body()
            parts = self.path.strip("/").split("/")
            with state.lock:
                state.resources.setdefault(parts[1], {})["metadata"] = json.loads(body)
                self._reply(200, {"ok": True})

    return Handler


@pytest.fixture()
def http_server():
    state = _State()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(state))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_port}", state
    server.shutdown()


def test_resource_lifecycle_upload_replace_delete(http_server):
    base, state = http_server
    up = RestUploader(base, auth_token="tok")
    rid = up.create_resource("GAMUT series export", keywords=["qc0"])
    assert rid in state.resources

    up.upload_file(rid, "site1_temp_2016.csv", b"h1\n1,2\n")
    assert state.files[(rid, "site1_temp_2016.csv")] == b"h1\n1,2\n"

    # replace-on-conflict: delete-then-add like the reference
    up.upload_file(rid, "site1_temp_2016.csv", b"h1\n1,3\n")
    assert state.files[(rid, "site1_temp_2016.csv")] == b"h1\n1,3\n"

    up.set_metadata(rid, {"public": True})
    assert state.resources[rid]["metadata"] == {"public": True}

    up.delete_file(rid, "site1_temp_2016.csv")
    assert (rid, "site1_temp_2016.csv") not in state.files


def test_post_json_partitions_distributed(spark, http_server):
    base, state = http_server
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(300)], "id int, site string, v double"
    ).repartition(4)
    post_json_partitions(df, f"{base}/ingest")
    assert len(state.posted_rows) == 300
    assert {r["id"] for r in state.posted_rows} == set(range(300))
    # batching bounded each request payload: 4 partitions x ceil(75/50)
    assert state.n_posts >= 8
