"""Minimal in-process FTP server (RFC 959 subset, stdlib-only) for
integration tests of the ``kind='ftp'`` connector path.

Serves a local directory over real FTP on 127.0.0.1: passive-mode data
connections, threaded control sessions (Spark sink partitions connect
concurrently), and exactly the verbs the engine's FTPClient issues:
USER PASS QUIT TYPE PWD CWD PASV NLST RETR STOR DELE RNFR RNTO MKD SIZE.

Behavioral choices mirror quirks the client must handle:
- NLST returns BARE names (no folder prefix) — exercises the client's
  bare-name normalization (reference download_file.py:154-157);
- CWD to a file answers 550 — the cwd-probe classification
  (reference download_file.py:159-167) depends on it;
- SIZE answers 550 for directories — the size-probe is_file
  (reference move_file.py:52-61) depends on it;
- ``readonly=True`` rejects STOR/DELE/RNTO/MKD with 550, for
  fail-fast error-path tests.
"""

from __future__ import annotations

import contextlib
import os
import posixpath
import shutil
import socket
import threading


class _Session(threading.Thread):
    def __init__(self, conn: socket.socket, server: "FtpStubServer"):
        super().__init__(daemon=True)
        self.conn = conn
        self.server = server
        self.root = server.root
        self.cwd = "/"  # virtual absolute path
        self.user = ""
        self.authed = False
        self.rnfr: str | None = None
        self.data_listener: socket.socket | None = None

    # --- plumbing ---------------------------------------------------------

    def send(self, code: int, text: str) -> None:
        self.conn.sendall(f"{code} {text}\r\n".encode())

    def resolve(self, arg: str) -> str:
        """Virtual path -> real path, jailed to root."""
        v = arg if arg.startswith("/") else posixpath.join(self.cwd, arg)
        v = posixpath.normpath(v)
        if not v.startswith("/"):
            v = "/" + v
        real = os.path.normpath(os.path.join(self.root, v.lstrip("/")))
        if not real.startswith(self.root):
            real = self.root
        return real

    def virtual(self, arg: str) -> str:
        v = arg if arg.startswith("/") else posixpath.join(self.cwd, arg)
        return posixpath.normpath(v)

    def open_data(self) -> socket.socket | None:
        if self.data_listener is None:
            return None
        self.data_listener.settimeout(10)
        try:
            data, _ = self.data_listener.accept()
            return data
        except OSError:
            return None
        finally:
            self.data_listener.close()
            self.data_listener = None

    # --- command loop -----------------------------------------------------

    def run(self) -> None:
        try:
            self.send(220, "ftp-stub ready")
            buf = b""
            while True:
                chunk = self.conn.recv(4096)
                if not chunk:
                    break
                buf += chunk
                while b"\r\n" in buf:
                    line, buf = buf.split(b"\r\n", 1)
                    if not self.dispatch(line.decode(errors="replace")):
                        return
        except OSError:
            pass
        finally:
            with contextlib.suppress(OSError):
                self.conn.close()

    def dispatch(self, line: str) -> bool:
        verb, _, arg = line.partition(" ")
        verb = verb.upper()
        if verb == "USER":
            self.user = arg
            self.send(331, "password required")
            return True
        if verb == "PASS":
            if self.server.users.get(self.user) == arg:
                self.authed = True
                self.send(230, "logged in")
            else:
                self.send(530, "login incorrect")
            return True
        if verb == "QUIT":
            self.send(221, "bye")
            return False
        if not self.authed:
            self.send(530, "not logged in")
            return True
        handler = getattr(self, f"do_{verb.lower()}", None)
        if handler is None:
            self.send(502, f"{verb} not implemented")
            return True
        handler(arg)
        return True

    # --- verbs ------------------------------------------------------------

    def do_type(self, arg: str) -> None:
        self.send(200, f"type {arg}")

    def do_pwd(self, arg: str) -> None:
        self.send(257, f'"{self.cwd}"')

    def do_cwd(self, arg: str) -> None:
        real = self.resolve(arg)
        if os.path.isdir(real):
            self.cwd = self.virtual(arg)
            self.send(250, "ok")
        else:
            self.send(550, "not a directory")

    def do_pasv(self, arg: str) -> None:
        if self.data_listener is not None:
            with contextlib.suppress(OSError):
                self.data_listener.close()
        ls = socket.socket()
        ls.bind(("127.0.0.1", 0))
        ls.listen(1)
        self.data_listener = ls
        port = ls.getsockname()[1]
        self.send(227, f"entering passive mode (127,0,0,1,{port >> 8},{port & 255})")

    def do_nlst(self, arg: str) -> None:
        self.server.nlst_count += 1  # traversal-pruning accounting
        real = self.resolve(arg or ".")
        if not os.path.isdir(real):
            self.send(550, "no such directory")
            return
        names = sorted(os.listdir(real))
        self.send(150, "listing")
        data = self.open_data()
        if data is None:
            self.send(425, "no data connection")
            return
        with contextlib.suppress(OSError):
            data.sendall("".join(f"{n}\r\n" for n in names).encode())
        data.close()
        self.send(226, "done")

    def do_size(self, arg: str) -> None:
        real = self.resolve(arg)
        if os.path.isfile(real):
            self.send(213, str(os.path.getsize(real)))
        else:
            self.send(550, "not a plain file")

    def do_retr(self, arg: str) -> None:
        self.server.retrieved.append(self.virtual(arg).lstrip("/"))
        real = self.resolve(arg)
        if not os.path.isfile(real):
            self.send(550, "no such file")
            return
        self.send(150, "sending")
        data = self.open_data()
        if data is None:
            self.send(425, "no data connection")
            return
        with open(real, "rb") as f, contextlib.suppress(OSError):
            shutil.copyfileobj(f, data.makefile("wb"))
        data.close()
        self.send(226, "done")

    def do_stor(self, arg: str) -> None:
        if self.server.readonly:
            self.send(550, "read-only server")
            return
        real = self.resolve(arg)
        if not os.path.isdir(os.path.dirname(real)):
            self.send(550, "no such directory")
            return
        self.send(150, "receiving")
        data = self.open_data()
        if data is None:
            self.send(425, "no data connection")
            return
        with open(real, "wb") as f:
            while True:
                chunk = data.recv(65536)
                if not chunk:
                    break
                f.write(chunk)
        data.close()
        self.send(226, "done")

    def do_dele(self, arg: str) -> None:
        real = self.resolve(arg)
        if self.server.readonly or not os.path.isfile(real):
            self.send(550, "cannot delete")
            return
        os.remove(real)
        self.send(250, "deleted")

    def do_rnfr(self, arg: str) -> None:
        real = self.resolve(arg)
        if os.path.exists(real):
            self.rnfr = real
            self.send(350, "ready for RNTO")
        else:
            self.send(550, "no such file")

    def do_rnto(self, arg: str) -> None:
        if self.rnfr is None or self.server.readonly:
            self.send(550, "RNFR first / read-only")
            return
        dst = self.resolve(arg)
        if not os.path.isdir(os.path.dirname(dst)):
            self.send(550, "no such directory")
            return
        os.rename(self.rnfr, dst)
        self.rnfr = None
        self.send(250, "renamed")

    def do_mkd(self, arg: str) -> None:
        if self.server.readonly:
            self.send(550, "read-only server")
            return
        try:  # one step: sessions making the same folder race on it
            os.mkdir(self.resolve(arg))
        except FileExistsError:
            self.send(550, "already exists")
            return
        self.send(257, f'"{self.virtual(arg)}"')


class FtpStubServer:
    """Threaded FTP server over ``root``; use as a context manager:

        with FtpStubServer(root, {"user": "pw"}) as (host, port):
            ...
    """

    def __init__(
        self,
        root: str,
        users: dict[str, str],
        readonly: bool = False,
    ):
        self.root = os.path.abspath(root)
        self.users = users
        self.readonly = readonly
        # NLST calls served across all sessions (GIL-atomic increments
        # are plenty for test accounting)
        self.nlst_count = 0
        # control connections accepted (one per client session)
        self.sessions = 0
        # root-relative paths RETRed, in arrival order (list.append is
        # GIL-atomic too)
        self.retrieved: list[str] = []
        self._listener: socket.socket | None = None
        self._accept_thread: threading.Thread | None = None

    def __enter__(self) -> tuple[str, int]:
        ls = socket.socket()
        ls.bind(("127.0.0.1", 0))
        ls.listen(16)
        self._listener = ls
        self._accept_thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept_thread.start()
        return "127.0.0.1", ls.getsockname()[1]

    def _accept_loop(self) -> None:
        while True:
            try:
                conn, _ = self._listener.accept()
            except OSError:
                return  # listener closed
            self.sessions += 1
            _Session(conn, self).start()

    def __exit__(self, *exc) -> None:
        with contextlib.suppress(OSError):
            self._listener.close()
