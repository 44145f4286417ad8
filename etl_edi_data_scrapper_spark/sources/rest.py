"""REST API source (type 8): paginated JSON pages + JWT auth cache.

Reference semantics (`src/Service/InputHandler/RestApiInputHandler.php:24-119`):
  * page params ``?page=N&per_page=M`` (default 100);
  * rows live under ``data``; non-dict rows skipped (:37-39);
  * stop when ``meta.last_page`` reached or ``links.next`` absent (:52-66);
  * 404 → empty page; ≥400 → log + stop (:69-107).
JWT (`src/Service/Auth/*`): token POST once, cached per supplier with a
+24 h synthetic expiry for raw-string tokens; `JwtManager.fetch` sends the
Bearer header on every page (a deployment passes
``build_registry(rest_fetch=mgr.fetch)``).

The paginator is a driver-side loop whose rows go, as JSON lines, into ONE
``spark.read.json`` (schema inference, distributed parse). This module is
the only place that knows the page protocol.
"""

from __future__ import annotations

import json
import logging
import os
import stat
import tempfile
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

Fetch = Callable[[str], str]  # url -> response body (JSON text)

log = logging.getLogger(__name__)

PAGE_PARAM, SIZE_PARAM, PAGE_SIZE = "page", "per_page", 100
MAX_PAGES = 100_000  # stops a server that always answers links.next


def _get(url: str, headers: dict[str, str] | None = None) -> str:
    req = urllib.request.Request(url, headers=headers or {})
    with urllib.request.urlopen(req) as resp:
        return resp.read().decode("utf-8")


@dataclass
class JwtManager:
    """Token acquisition + file cache (`PlainStringJwtManager.php:23-50`,
    `FileTokenPersistence.php:15-94`). Raw-string token responses get a
    +24 h synthetic expiry; JSON responses may carry their own."""

    token_url: str
    credentials: dict[str, str]
    cache_dir: str | None = None
    supplier_id: int = 0
    fetch_post: Callable[[str, dict[str, str]], str] | None = None
    default_ttl_s: int = 24 * 3600
    _now: Callable[[], float] = field(default=time.time)

    def _cache_path(self) -> str:
        """The token file path, in a directory only this user can enter.
        Bearer tokens must not sit in a shared temp dir readable by others,
        and a directory someone else owns or can write is refused: they
        could read the tokens or plant a file or link at the token path."""
        d = self.cache_dir or os.path.join(tempfile.gettempdir(), "etl_jwt_cache")
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.lstat(d)
        if (
            not stat.S_ISDIR(st.st_mode)
            or st.st_uid != os.getuid()
            or st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
        ):
            raise PermissionError(
                f"JWT cache dir {d!r} must be a directory owned by this user "
                "and writable by no one else"
            )
        return os.path.join(d, f"token_{self.supplier_id}.json")

    def token(self) -> str:
        path = self._cache_path()
        if os.path.exists(path):
            with open(path) as f:
                cached = json.load(f)
            if cached.get("expires_at", 0) > self._now():
                return cached["token"]
        body = (self.fetch_post or self._post)(self.token_url, self.credentials)
        try:
            parsed = json.loads(body)
            tok = parsed.get("token") or parsed.get("access_token") or body
            ttl = int(parsed.get("expires_in", self.default_ttl_s))
        except (json.JSONDecodeError, AttributeError):
            tok, ttl = body.strip(), self.default_ttl_s
        # owner-only, and never through a link planted at the token path
        flags = os.O_WRONLY | os.O_CREAT | os.O_TRUNC | os.O_NOFOLLOW
        fd = os.open(path, flags, 0o600)
        os.fchmod(fd, 0o600)  # a file left by an older writer keeps its mode
        with os.fdopen(fd, "w") as f:
            json.dump({"token": tok, "expires_at": self._now() + ttl}, f)
        return tok

    def fetch(self, url: str) -> str:
        """One page GET with ``Bearer {token()}``, the token looked up per
        page as the reference's Bearer middleware does per request."""
        return _get(url, {"Authorization": f"Bearer {self.token()}"})

    @staticmethod
    def _post(url: str, payload: dict[str, str]) -> str:
        data = json.dumps(payload).encode()
        req = urllib.request.Request(
            url, data=data, headers={"Content-Type": "application/json"}
        )
        with urllib.request.urlopen(req) as resp:
            return resp.read().decode("utf-8")


def paginate(base_url: str, fetch: Fetch) -> list[list[dict[str, Any]]]:
    """Drive the page loop; returns row batches. Stop conditions mirror the
    reference: meta.last_page reached, links.next absent, or empty data.
    An HTTP error status or a body that is not JSON stops the loop with a
    logged warning (the reference's "≥400 → log + stop"); any other fetch
    failure propagates, so a transport bug never publishes a silently
    truncated feed."""
    pages = []
    sep = "&" if "?" in base_url else "?"
    for page in range(1, MAX_PAGES + 1):
        url = f"{base_url}{sep}{PAGE_PARAM}={page}&{SIZE_PARAM}={PAGE_SIZE}"
        try:
            body = fetch(url)
        except urllib.error.HTTPError as e:
            log.warning("REST page %s returned HTTP %s; stopping pagination", url, e.code)
            break
        if not body:
            break
        try:
            payload = json.loads(body)
        except json.JSONDecodeError as e:
            log.warning("REST page %s is not JSON (%s); stopping pagination", url, e)
            break
        data = payload.get("data")
        if not isinstance(data, list) or not data:
            break
        pages.append([r for r in data if isinstance(r, dict)])
        meta = payload.get("meta") or {}
        links = payload.get("links") or {}
        if meta.get("last_page") is not None and page >= int(meta["last_page"]):
            break
        if "last_page" not in meta and not links.get("next"):
            break
    return pages


def read_rest_api(
    spark: SparkSession, base_url: str, fetch: Fetch | None = None
) -> DataFrame:
    """Paginated fetch → one ``spark.read.json`` over the rows' JSON lines
    (schema inference as for a JSONL file; no pages → ``struct<>``, 0 rows).
    The rows are already in driver memory, so nothing is staged on disk.
    ``fetch`` defaults to an unauthenticated GET; pass `JwtManager.fetch`
    for Bearer auth."""
    pages = paginate(base_url, fetch or _get)
    lines = [json.dumps(r) for rows in pages for r in rows]
    return spark.read.json(spark.sparkContext.parallelize(lines))
