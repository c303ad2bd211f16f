"""REST sink (SURVEY.md §2.1 S12) — the HydroShare-upload analog.

Reference: ``src/Utilities/HydroShareUtility.py`` in /root/reference —
create resource (:505-549), upload/replace files (:420-446), delete files
(:460-472), duplicate purge (:245-283). That client wraps a hydroshare REST
API; this module reproduces the *engine-relevant* surface against any
HTTP endpoint, stdlib-only (urllib), with two shapes:

  * **Driver-side file upload** (`RestUploader`): the faithful analog — the
    export pipeline produces one small annotated-CSV per chunk (files are
    small by construction, SURVEY.md §7.4 item 3), and the driver POSTs
    each file after the job, replace-on-conflict like the reference's
    delete-then-add (:424-434).
  * **Distributed row posting** (`post_json_partitions`): the engine-scale
    path — each executor partition POSTs its rows as JSON batches via
    ``foreachPartition``, so shipping results to an HTTP service needs no
    driver collect. Batch size bounds request payloads; per-partition
    connections amortize handshakes.

Tested against a local ``http.server`` (tests/test_rest_sink.py) — no
external network involved.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame


class RestUploader:
    """Minimal REST resource client mirroring the reference's upload verbs.

    ``base_url`` like ``http://host:port``; endpoints:
      POST   {base}/resource                      -> create resource (JSON body)
      POST   {base}/resource/{rid}/files/{name}   -> upload file bytes
      DELETE {base}/resource/{rid}/files/{name}   -> delete file
      PUT    {base}/resource/{rid}/metadata       -> set metadata (JSON body)
    """

    def __init__(self, base_url: str, auth_token: str | None = None, timeout: float = 30.0):
        self.base_url = base_url.rstrip("/")
        self.auth_token = auth_token
        self.timeout = timeout

    def _request(self, method: str, path: str, body: bytes | None = None, content_type: str = "application/octet-stream") -> dict:
        req = urllib.request.Request(
            f"{self.base_url}{path}", data=body, method=method
        )
        req.add_header("Content-Type", content_type)
        if self.auth_token:
            req.add_header("Authorization", f"Bearer {self.auth_token}")
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            payload = resp.read()
        return json.loads(payload) if payload else {}

    def create_resource(self, title: str, keywords: list[str] | None = None, abstract: str = "") -> str:
        """HydroShareUtility.createNewResource analog (:505-549): returns the
        new resource id."""
        body = json.dumps(
            {"title": title, "keywords": keywords or [], "abstract": abstract}
        ).encode()
        out = self._request("POST", "/resource", body, "application/json")
        return out["resource_id"]

    def upload_file(self, resource_id: str, name: str, data: bytes, replace: bool = True) -> dict:
        """upload_files analog (:420-446): replace-on-conflict = the
        reference's delete-then-add loop."""
        quoted = urllib.parse.quote(name)
        if replace:
            try:
                self.delete_file(resource_id, name)
            except urllib.error.HTTPError as e:
                if e.code != 404:
                    raise
        return self._request("POST", f"/resource/{resource_id}/files/{quoted}", data)

    def delete_file(self, resource_id: str, name: str) -> dict:
        quoted = urllib.parse.quote(name)
        return self._request("DELETE", f"/resource/{resource_id}/files/{quoted}")

    def set_metadata(self, resource_id: str, metadata: dict) -> dict:
        """setMetadata/keywords/public analog (:299-308)."""
        return self._request(
            "PUT", f"/resource/{resource_id}/metadata", json.dumps(metadata).encode(), "application/json"
        )


def post_json_partitions(
    df: DataFrame,
    url: str,
    auth_token: str | None = None,
    timeout: float = 30.0,
) -> None:
    """POST every row of ``df`` to ``url`` as JSON-array batches, one HTTP
    client per partition (foreachPartition — executor-side, no driver
    collect). The engine-scale form of the reference's serial upload loop:
    N executors post concurrently; each payload carries at most 50 rows.
    """

    def _post_partition(rows) -> None:
        import json as _json
        import urllib.request as _rq

        def flush(batch: list[dict]) -> None:
            if not batch:
                return
            req = _rq.Request(url, data=_json.dumps(batch).encode(), method="POST")
            req.add_header("Content-Type", "application/json")
            if auth_token:
                req.add_header("Authorization", f"Bearer {auth_token}")
            with _rq.urlopen(req, timeout=timeout) as resp:
                resp.read()

        batch: list[dict] = []
        for row in rows:
            batch.append(row.asDict(recursive=True))
            if len(batch) >= 50:
                flush(batch)
                batch = []
        flush(batch)

    df.foreachPartition(_post_partition)
