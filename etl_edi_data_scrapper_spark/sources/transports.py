"""Transport layer: stage remote bytes to local paths, keep the plan pure.

Reference semantics:
  * HTTP GET with ``^https?://`` detection — `src/Service/Transport/HttpTransport.php:18-49`.
  * SFTP file-selection protocol — `src/Service/Transport/SftpTransport.php:52-207`:
    treat ``source`` as ``dir/prefix.ext``; list the dir; keep regular files
    whose basename starts with the prefix; sort by mtime; download the
    NEWEST only; move all older matches to ``history/`` (archive + delete →
    at-most-once consumption).

The selection/archive protocol is implemented against a tiny filesystem
interface so it runs identically over paramiko SFTP (production, gated on
the lib) and a local directory (tests). Structured Streaming's
``cleanSource=archive`` option mirrors the history-move for stream ingest.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import urllib.request
from dataclasses import dataclass
from typing import Protocol


def http_fetch(url: str, staging_dir: str | None = None) -> str:
    """Download to a staging file; returns the local path."""
    staging_dir = staging_dir or tempfile.mkdtemp(prefix="etl_http_")
    os.makedirs(staging_dir, exist_ok=True)
    name = os.path.basename(url.split("?")[0]) or "download"
    dest = os.path.join(staging_dir, name)
    with urllib.request.urlopen(url) as resp, open(dest, "wb") as f:
        shutil.copyfileobj(resp, f)
    return dest


class Socks5Error(ConnectionError):
    """SOCKS5 proxy refused a step of the handshake."""


def _recv_exact(sock, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise Socks5Error(
                f"proxy closed the connection mid-handshake "
                f"(wanted {n} bytes, got {len(buf)})"
            )
        buf += chunk
    return buf


def socks5_connect(
    sock,
    dest_host: str,
    dest_port: int,
    username: str | None = None,
    password: str | None = None,
    resolve=None,
):
    """SOCKS5 handshake on an already-open socket to the proxy — byte-level
    parity with the reference (`SftpTransport.php:60-128`): greeting offering
    username/password auth (method 0x02), RFC 1929 credential
    subnegotiation, then an IPv4 CONNECT (the reference resolves the host
    first and sends ATYP=1). Without a username, offers no-auth (0x00) —
    the natural generalization for unauthenticated proxies.

    Raises ``Socks5Error`` on any refusal (the reference logs + returns
    null; this engine's error taxonomy makes transport failures loud).
    Returns the socket, now tunnelled to ``dest_host:dest_port``, ready to
    hand to an SSH/SFTP client.
    """
    if username is not None:
        sock.sendall(b"\x05\x01\x02")  # VER, NMETHODS=1, USERNAME/PASSWORD
        if _recv_exact(sock, 2) != b"\x05\x02":
            raise Socks5Error("SOCKS5 proxy did not accept username/password auth")
        u, p = username.encode(), (password or "").encode()
        if len(u) > 255 or len(p) > 255:
            raise Socks5Error("SOCKS5 username/password exceed 255 bytes")
        sock.sendall(bytes([0x01, len(u)]) + u + bytes([len(p)]) + p)
        if _recv_exact(sock, 2) != b"\x01\x00":
            raise Socks5Error("SOCKS5 proxy rejected the credentials")
    else:
        sock.sendall(b"\x05\x01\x00")  # VER, NMETHODS=1, NO-AUTH
        if _recv_exact(sock, 2) != b"\x05\x00":
            raise Socks5Error("SOCKS5 proxy did not accept no-auth")

    if resolve is None:
        import socket as _socket

        resolve = _socket.gethostbyname
    addr = resolve(dest_host)
    parts = addr.split(".")
    if len(parts) != 4:
        raise Socks5Error(f"expected an IPv4 address for {dest_host!r}, got {addr!r}")
    req = (
        b"\x05\x01\x00\x01"  # VER, CMD=CONNECT, RSV, ATYP=IPv4
        + bytes(int(x) for x in parts)
        + bytes([(int(dest_port) >> 8) & 0xFF, int(dest_port) & 0xFF])
    )
    sock.sendall(req)
    reply = _recv_exact(sock, 10)  # VER REP RSV ATYP BND.ADDR(4) BND.PORT(2)
    if reply[1] != 0x00:
        raise Socks5Error(
            f"SOCKS5 proxy refused CONNECT to {dest_host}:{dest_port} "
            f"(REP=0x{reply[1]:02x})"
        )
    return sock


@dataclass
class RemoteFile:
    path: str
    mtime: float
    is_regular: bool


class RemoteFs(Protocol):
    """Minimal filesystem the SFTP protocol needs (paramiko SFTPClient and
    LocalFs both satisfy it)."""

    def listdir(self, path: str) -> list[RemoteFile]: ...
    def download(self, remote_path: str, local_path: str) -> None: ...
    def rename(self, src: str, dst: str) -> None: ...
    def makedirs(self, path: str) -> None: ...


class LocalFs:
    """Local-directory implementation (tests, mounted shares)."""

    def listdir(self, path: str) -> list[RemoteFile]:
        out = []
        for name in os.listdir(path):
            p = os.path.join(path, name)
            st = os.stat(p)
            out.append(RemoteFile(p, st.st_mtime, os.path.isfile(p)))
        return out

    def download(self, remote_path: str, local_path: str) -> None:
        shutil.copyfile(remote_path, local_path)

    def rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)


class ParamikoFs:
    """paramiko-backed RemoteFs (gated: paramiko is not in this container)."""

    def __init__(self, host: str, username: str, password: str | None = None,
                 port: int = 22, proxy: dict | None = None, **connect_kwargs):
        """``proxy``: optional SOCKS5 config ``{host, port, username,
        password}`` (`SftpTransport.php:60-128`) — the TCP socket is opened
        to the proxy, tunnelled with ``socks5_connect``, and handed to
        paramiko in place of a direct connection."""
        try:
            import paramiko
        except ImportError as e:
            raise NotImplementedError(
                "SFTP transport needs paramiko (not available in this environment)"
            ) from e
        if proxy:
            import socket as _socket

            sock = _socket.create_connection(
                (proxy["host"], int(proxy.get("port", 1080))), timeout=30
            )
            socks5_connect(
                sock, host, port,
                username=proxy.get("username"), password=proxy.get("password"),
            )
            transport = paramiko.Transport(sock)
        else:
            transport = paramiko.Transport((host, port))
        transport.connect(username=username, password=password, **connect_kwargs)
        self._sftp = paramiko.SFTPClient.from_transport(transport)

    def listdir(self, path: str) -> list[RemoteFile]:
        import stat as statmod

        out = []
        for attr in self._sftp.listdir_attr(path):
            out.append(
                RemoteFile(
                    f"{path.rstrip('/')}/{attr.filename}",
                    attr.st_mtime or 0,
                    statmod.S_ISREG(attr.st_mode or 0),
                )
            )
        return out

    def download(self, remote_path: str, local_path: str) -> None:
        self._sftp.get(remote_path, local_path)

    def rename(self, src: str, dst: str) -> None:
        self._sftp.posix_rename(src, dst)

    def makedirs(self, path: str) -> None:
        try:
            self._sftp.mkdir(path)
        except OSError:
            pass  # exists


def sftp_select_and_stage(
    fs: RemoteFs,
    source: str,
    staging_dir: str | None = None,
    archive: bool = True,
) -> list[str]:
    """The reference's at-most-once file pickup (`SftpTransport.php:139-207`).

    ``source`` = ``dir/prefix.ext``: match regular files in ``dir`` whose
    name starts with ``prefix``; newest by mtime is downloaded; older
    matches are moved to ``dir/history/`` (consumed exactly once even if the
    job re-runs before the supplier uploads a new file).

    Returns the list of staged local paths (newest only — one element — by
    protocol; kept a list because Excel/Morris readers union multiple files
    when a caller disables archiving).
    """
    directory, fname = os.path.split(source)
    prefix = os.path.splitext(fname)[0]
    matches = [
        f
        for f in fs.listdir(directory or ".")
        if f.is_regular and os.path.basename(f.path).startswith(prefix)
    ]
    if not matches:
        raise FileNotFoundError(f"no files matching {prefix!r} in {directory!r}")
    matches.sort(key=lambda f: f.mtime, reverse=True)
    newest, older = matches[0], matches[1:]

    staging_dir = staging_dir or tempfile.mkdtemp(prefix="etl_sftp_")
    os.makedirs(staging_dir, exist_ok=True)
    local = os.path.join(staging_dir, os.path.basename(newest.path))
    fs.download(newest.path, local)

    if archive and older:
        hist = os.path.join(directory or ".", "history")
        fs.makedirs(hist)
        for f in older:
            fs.rename(f.path, os.path.join(hist, os.path.basename(f.path)))
    return [local]


def sftp_fetch_latest(source: str, fs: RemoteFs | None = None) -> list[str]:
    """Default SFTP fetch used by the production registry. Without an
    explicit fs a paramiko connection would be required — configuration
    comes from the caller, so this raises with guidance when unwired."""
    if fs is None:
        raise NotImplementedError(
            "pass a RemoteFs (ParamikoFs(host,...) or LocalFs()) — no ambient "
            "SFTP credentials are assumed"
        )
    return sftp_select_and_stage(fs, source)
