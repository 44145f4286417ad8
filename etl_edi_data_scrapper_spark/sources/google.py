"""Google Sheets (type 1) and Drive folder (type 3) sources.

Reference semantics:
  * Sheets (`src/Service/InputHandler/GoogleSheetsInputHandler.php:20-53`):
    fetch `spreadsheets_values.get(id, range)`; drop fully-empty rows; first
    row = header (trimmed); pad short rows with null; trim every cell; skip
    rows longer than the header. Retry ≤10 on 429/500/503 with linear 5 s
    backoff (:55-82).
  * Drive (`GoogleDriveFolderHandler.php:29-68`): list non-trashed files in
    the folder, take the FIRST file only, dispatch to CSV/Excel by
    extension/MIME.
  * OAuth2 with token refresh-persist (`GoogleApiInputHandler.php:21-73`).

The API client is a Protocol so tests inject fakes; the real client (gated —
google-api-python-client is not in this container) satisfies it with a thin
adapter. Values land via ``spark.createDataFrame`` — a Sheets range is
bounded (≤10M cells), so driver-side staging is the right scale tradeoff;
the distributed path for huge exports is Drive→CSV→``spark.read.csv``.
"""

from __future__ import annotations

import os
import tempfile
import time
from typing import Callable, Protocol

from pyspark.sql import DataFrame, SparkSession

from etl_edi_data_scrapper_spark.functions.hashing import sql_ident

RETRYABLE = {429, 500, 503}


class SheetsClient(Protocol):
    def get_values(self, spreadsheet_id: str, range_: str | None) -> list[list[str]]: ...


class DriveClient(Protocol):
    def list_files(self, folder_id: str) -> list[dict]: ...  # {id, name, mimeType, trashed}
    def download(self, file_id: str, dest_path: str) -> None: ...


class TransientApiError(Exception):
    def __init__(self, status: int, msg: str = ""):
        self.status = status
        super().__init__(f"HTTP {status}: {msg}")


def with_retry(fn: Callable[[], list], attempts: int = 10, backoff_s: float = 5.0,
               sleep: Callable[[float], None] = time.sleep) -> list:
    """Sheets retry budget: ≤10 attempts on 429/500/503, linear backoff
    (`GoogleSheetsInputHandler.php:55-82`)."""
    last: Exception | None = None
    for i in range(attempts):
        try:
            return fn()
        except TransientApiError as e:
            if e.status not in RETRYABLE:
                raise
            last = e
            sleep(backoff_s)
    raise last  # type: ignore[misc]


def sheets_values_to_rows(values: list[list]) -> tuple[list[str], list[list]]:
    """Sheets header/pad/trim/skip semantics: first non-empty row =
    trimmed header; empty rows dropped; short rows padded with None;
    over-long rows skipped (header-combine failure). Excel applies its
    own rules in ``files._grid_to_table``."""
    rows = [r for r in values if any(str(c).strip() for c in r)]
    if not rows:
        return [], []
    header = [str(c).strip() for c in rows[0]]
    width = len(header)
    out = []
    for r in rows[1:]:
        if len(r) > width:
            continue  # reference: array_combine fails → row skipped
        cells = [str(c).strip() if c is not None else None for c in r]
        cells += [None] * (width - len(cells))
        out.append(cells)
    return header, out


def read_google_sheets(
    spark: SparkSession,
    spreadsheet_id: str,
    range_: str | None,
    client: SheetsClient,
    sleep: Callable[[float], None] = time.sleep,
) -> DataFrame:
    values = with_retry(lambda: client.get_values(spreadsheet_id, range_), sleep=sleep)
    header, rows = sheets_values_to_rows(values)
    if not header:
        raise ValueError(f"sheet {spreadsheet_id!r} range {range_!r} returned no data")
    schema = ", ".join(f"{sql_ident(h)} string" for h in header)
    from etl_edi_data_scrapper_spark.sources.files import local_df

    return local_df(spark, rows, schema)


_EXCEL_MIMES = {
    "application/vnd.ms-excel",
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
}


def drive_file_type(file_name: str, mime_type: str) -> str:
    """'csv' | 'excel' | 'unsupported' — extension first, MIME fallback,
    exactly the reference's dispatch (`GoogleDriveFolderHandler.php:81-98`):
    csv on ``.csv`` ext OR a MIME containing ``text/csv``; excel on
    ``.xls/.xlsx`` ext OR the two Excel MIMEs. An extensionless Drive export
    with a spreadsheet MIME therefore still lands in the right reader."""
    ext = os.path.splitext(file_name)[1].lower().lstrip(".")
    if ext == "csv" or "text/csv" in (mime_type or ""):
        return "csv"
    if ext in ("xls", "xlsx") or (mime_type or "") in _EXCEL_MIMES:
        return "excel"
    return "unsupported"


def read_google_drive_folder(
    spark: SparkSession,
    folder_id: str,
    range_: str | None,
    client: DriveClient,
    staging_dir: str | None = None,
) -> DataFrame:
    """First non-trashed file in the folder, dispatched by extension with
    MIME fallback (`GoogleDriveFolderHandler.php:44-98`). The reference logs
    'Unsupported file type' and returns an empty collection; this engine
    raises — silent empties hide misconfigured folders."""
    from etl_edi_data_scrapper_spark.sources import files as fmod

    files = [f for f in client.list_files(folder_id) if not f.get("trashed")]
    if not files:
        raise FileNotFoundError(f"no files in Drive folder {folder_id!r}")
    first = files[0]
    staging_dir = staging_dir or tempfile.mkdtemp(prefix="etl_drive_")
    os.makedirs(staging_dir, exist_ok=True)
    dest = os.path.join(staging_dir, first["name"])
    client.download(first["id"], dest)
    ftype = drive_file_type(first["name"], first.get("mimeType", ""))
    if ftype == "csv":
        return fmod.read_csv(spark, dest, range_)
    if ftype == "excel":
        return fmod.read_excel(spark, dest, range_)
    raise ValueError(
        f"Google Drive: unsupported file type: {first['name']!r} "
        f"(mimeType {first.get('mimeType')!r})"
    )


class OAuthTokenManager:
    """Google OAuth2 access-token lifecycle with refresh-persist
    (`GoogleApiInputHandler.php:35-65` parity): load the token JSON, detect
    expiry (created + expires_in, 30 s skew — the Google client's rule),
    refresh via the refresh_token grant, write the new token back.

    ``fetch_post(url, form_dict) -> dict`` is injectable so the flow is
    fully testable offline (same discipline as `rest.JwtManager`). Unlike
    the reference — which overwrites the token file with the refresh
    response verbatim and so DROPS the refresh_token when Google omits it
    (refresh responses usually do) — the refresh_token is preserved across
    refreshes (`google/apiclient` does the same merge internally).
    """

    TOKEN_URL = "https://oauth2.googleapis.com/token"

    def __init__(
        self,
        token_path: str,
        client_id: str,
        client_secret: str,
        fetch_post: Callable[[str, dict], dict],
        now: Callable[[], float] = time.time,
        skew_s: int = 30,
    ):
        self.token_path = token_path
        self.client_id = client_id
        self.client_secret = client_secret
        self.fetch_post = fetch_post
        self.now = now
        self.skew_s = skew_s

    def _load(self) -> dict:
        import json

        if not os.path.exists(self.token_path):
            raise FileNotFoundError(f"Token file not found: {self.token_path}")
        with open(self.token_path) as f:
            return json.load(f)

    def is_expired(self, tok: dict) -> bool:
        created = float(tok.get("created", 0))
        expires_in = float(tok.get("expires_in", 0))
        return self.now() >= created + expires_in - self.skew_s

    def access_token(self) -> str:
        tok = self._load()
        if self.is_expired(tok):
            tok = self._refresh(tok)
        return tok["access_token"]

    def _refresh(self, tok: dict) -> dict:
        import json

        refresh_token = tok.get("refresh_token")
        if not refresh_token:
            raise ValueError("No refresh token available.")
        new = dict(
            self.fetch_post(
                self.TOKEN_URL,
                {
                    "client_id": self.client_id,
                    "client_secret": self.client_secret,
                    "refresh_token": refresh_token,
                    "grant_type": "refresh_token",
                },
            )
        )
        new.setdefault("refresh_token", refresh_token)  # survive omission
        new.setdefault("created", int(self.now()))
        with open(self.token_path, "w") as f:
            json.dump(new, f)
        return new


def real_sheets_client(credentials_path: str) -> SheetsClient:  # pragma: no cover
    """Adapter over google-api-python-client (not in this container)."""
    try:
        from google.oauth2.credentials import Credentials  # noqa: F401
        from googleapiclient.discovery import build  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "Google Sheets needs google-api-python-client + credentials; "
            "inject a SheetsClient fake for offline use"
        ) from e
    raise NotImplementedError("wire OAuth2 credentials per deployment")
