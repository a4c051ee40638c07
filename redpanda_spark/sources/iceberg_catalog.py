"""Iceberg REST-catalog registration for exported tables.

The engine's exporter (``iceberg_export.py``) maintains a filesystem
catalog (version-hint.text). Lakehouse deployments instead run a REST /
Glue-style catalog; the reference ships a full REST catalog client
(`src/v/iceberg/rest_client/catalog_client.cc`, retry/auth policy, and
`datalake/coordinator/` driving it). This is the Spark-repo analog for
the one flow an exported table needs: REGISTERING existing metadata with
a catalog, so engines that only speak catalog (Trino, Snowflake, Spark's
Iceberg runtime) can see the table without manual pointing.

Implemented from the public Apache Iceberg REST catalog OpenAPI spec
(https://github.com/apache/iceberg/blob/main/open-api/rest-catalog-open-api.yaml):
- GET  /v1/config                         (capability handshake)
- POST /v1/namespaces                     (CreateNamespace, 409 = exists)
- POST /v1/namespaces/{ns}/register      (RegisterTableRequest:
    {"name": ..., "metadata-location": ...} — the endpoint made for
    adopting already-written metadata, exactly our case)

``dry_run=True`` returns the request list without any I/O — the
documented way to inspect what would be sent when no catalog is
reachable.
"""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request


class CatalogError(Exception):
    pass


def _metadata_location(table_path: str, fs=None) -> str:
    """Current committed metadata file, resolved like every reader and
    writer of the table (``iceberg_export._current_version``). ``fs``:
    the table root's fsio handle for URI roots (plain local by default)."""
    from redpanda_spark.sources.iceberg_export import (
        _current_version,
        _version_path,
    )

    meta_dir = os.path.join(table_path, "metadata")
    version, _meta = _current_version(meta_dir, fs)
    if not version:
        raise CatalogError(f"no vN.metadata.json under {meta_dir}")
    return _version_path(meta_dir, version)


def register_table(
    table_path: str,
    catalog_uri: str,
    namespace: str,
    table_name: str,
    token: str | None = None,
    dry_run: bool = False,
    timeout_s: float = 30.0,
    fs=None,
) -> dict:
    """Register the exported table's CURRENT metadata with a REST catalog.

    Returns {"requests": [...], "responses": [...]} (requests only when
    ``dry_run``). Raises CatalogError on a non-retryable failure. The
    table data/metadata files are not touched — registration points the
    catalog at the existing metadata-location, per the spec's
    RegisterTableRequest.
    """
    metadata_location = _metadata_location(table_path, fs=fs)
    base = catalog_uri.rstrip("/")
    ns_levels = namespace.split(".")
    requests = [
        {"method": "GET", "path": f"{base}/v1/config", "body": None},
        {
            "method": "POST",
            "path": f"{base}/v1/namespaces",
            "body": {"namespace": ns_levels, "properties": {}},
        },
        {
            "method": "POST",
            "path": f"{base}/v1/namespaces/{'%1F'.join(ns_levels)}/register",
            "body": {
                "name": table_name,
                "metadata-location": metadata_location,
            },
        },
    ]
    if dry_run:
        return {"requests": requests, "responses": []}

    headers = {"Content-Type": "application/json"}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    responses = []
    for i, r in enumerate(requests):
        data = None if r["body"] is None else json.dumps(r["body"]).encode()
        req = urllib.request.Request(
            r["path"], data=data, headers=headers, method=r["method"]
        )
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                body = resp.read().decode() or "{}"
                responses.append({"status": resp.status, "body": json.loads(body)})
        except urllib.error.HTTPError as e:
            if i == 1 and e.code == 409:
                # namespace already exists — the spec's expected benign case
                responses.append({"status": 409, "body": {}})
                continue
            raise CatalogError(
                f"{r['method']} {r['path']} failed: HTTP {e.code} "
                f"{e.read().decode()[:300]}"
            ) from e
        except urllib.error.URLError as e:
            raise CatalogError(
                f"{r['method']} {r['path']} unreachable: {e.reason}"
            ) from e
    return {"requests": requests, "responses": responses}
