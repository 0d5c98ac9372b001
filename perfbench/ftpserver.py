"""Counting FTP server for the benchmark (RFC 959 subset, stdlib only).

A pinned copy of the behaviour the engine's ``FTPClient`` is tested
against, run in its own process so the benchmark's numbers do not move
when test helpers change and so the server's Python threads do not
compete with the benchmark process for its interpreter lock.

Behaviour that the numbers depend on, kept on purpose:

- passive-mode data connections, one thread per control session;
- NLST returns bare names; CWD to a file and SIZE of a directory
  answer 550 (the client's cwd-probe and size-probe rely on it);
- sockets keep the default Nagle setting, so a data-channel command,
  whose 150 and 226 replies are two small writes with no read between
  them, waits one delayed-ACK interval (about 40 ms on Linux loopback).
  That is the per-transfer latency a remote server imposes, and it is
  why per-file data connections dominate the tree half of ``ftp_pipeline``.

Counts kept for the ``sources.connector`` layer: commands by verb,
control sessions, peak concurrent sessions, data connections, and
bytes received (STOR) and sent (NLST, RETR) on data connections. The
times sessions open and close and data connections open are kept too,
so a client can attribute sessions to the interval of one of its calls.

Run: ``python3 ftpserver.py ROOT USER PASSWORD``. The server prints
``PORT <n>`` and then answers lines on stdin: ``stats`` prints the
counts as one JSON line, ``reset`` zeroes them and prints ``ok``, and
``quit`` or end of input stops the server.
"""

from __future__ import annotations

import contextlib
import json
import os
import posixpath
import shutil
import socket
import sys
import threading
import time
from collections import Counter


class Counts:
    """Server-side connector counts, shared by every session thread."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.active = 0
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.events: list[tuple[float, str]] = []  # (epoch s, "open"|"close"|"data")
            self.verbs: Counter = Counter()
            self.sessions = 0
            self.peak_sessions = self.active
            self.data_conns = 0
            self.bytes_in = 0
            self.bytes_out = 0
            self.active_at_reset = self.active

    def session_opened(self) -> None:
        with self.lock:
            self.sessions += 1
            self.active += 1
            self.peak_sessions = max(self.peak_sessions, self.active)
            self.events.append((time.time(), "open"))

    def session_closed(self) -> None:
        with self.lock:
            self.active -= 1
            self.events.append((time.time(), "close"))

    def data_opened(self) -> None:
        with self.lock:
            self.data_conns += 1
            self.events.append((time.time(), "data"))

    def add(self, field: str, n: int = 1) -> None:
        with self.lock:
            setattr(self, field, getattr(self, field) + n)

    def verb(self, verb: str) -> None:
        with self.lock:
            self.verbs[verb] += 1

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "verbs": dict(self.verbs),
                "commands": sum(self.verbs.values()),
                "sessions": self.sessions,
                "peak_sessions": self.peak_sessions,
                "data_conns": self.data_conns,
                "bytes_in": self.bytes_in,
                "bytes_out": self.bytes_out,
                "active_at_reset": self.active_at_reset,
                "events": list(self.events),
            }


class _Session(threading.Thread):
    def __init__(self, conn: socket.socket, server: Server):
        super().__init__(daemon=True)
        self.conn = conn
        self.server = server
        self.counts = server.counts
        self.root = server.root
        self.cwd = "/"
        self.user = ""
        self.authed = False
        self.rnfr: str | None = None
        self.data_listener: socket.socket | None = None

    def send(self, code: int, text: str) -> None:
        self.conn.sendall(f"{code} {text}\r\n".encode())

    def resolve(self, arg: str) -> str:
        """Virtual path -> real path, jailed to root."""
        v = posixpath.normpath(arg if arg.startswith("/") else posixpath.join(self.cwd, arg))
        real = os.path.normpath(os.path.join(self.root, v.lstrip("/")))
        return real if real.startswith(self.root) else self.root

    def virtual(self, arg: str) -> str:
        return posixpath.normpath(arg if arg.startswith("/") else posixpath.join(self.cwd, arg))

    def open_data(self) -> socket.socket | None:
        if self.data_listener is None:
            return None
        self.data_listener.settimeout(10)
        try:
            data, _ = self.data_listener.accept()
            self.counts.data_opened()
            return data
        except OSError:
            return None
        finally:
            self.data_listener.close()
            self.data_listener = None

    def run(self) -> None:
        self.counts.session_opened()
        try:
            self.send(220, "bench ftp ready")
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
            self.counts.session_closed()
            with contextlib.suppress(OSError):
                self.conn.close()

    def dispatch(self, line: str) -> bool:
        verb, _, arg = line.partition(" ")
        verb = verb.upper()
        self.counts.verb(verb)
        if verb == "USER":
            self.user = arg
            self.send(331, "password required")
            return True
        if verb == "PASS":
            self.authed = self.server.users.get(self.user) == arg
            self.send(*((230, "logged in") if self.authed else (530, "login incorrect")))
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
        else:
            handler(arg)
        return True

    def do_type(self, arg: str) -> None:
        self.send(200, f"type {arg}")

    def do_pwd(self, arg: str) -> None:
        self.send(257, f'"{self.cwd}"')

    def do_cwd(self, arg: str) -> None:
        if os.path.isdir(self.resolve(arg)):
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
        real = self.resolve(arg or ".")
        if not os.path.isdir(real):
            self.send(550, "no such directory")
            return
        payload = "".join(f"{n}\r\n" for n in sorted(os.listdir(real))).encode()
        self.send(150, "listing")
        data = self.open_data()
        if data is None:
            self.send(425, "no data connection")
            return
        with contextlib.suppress(OSError):
            data.sendall(payload)
            self.counts.add("bytes_out", len(payload))
        data.close()
        self.send(226, "done")

    def do_size(self, arg: str) -> None:
        real = self.resolve(arg)
        if os.path.isfile(real):
            self.send(213, str(os.path.getsize(real)))
        else:
            self.send(550, "not a plain file")

    def do_retr(self, arg: str) -> None:
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
            out = data.makefile("wb")
            shutil.copyfileobj(f, out)
            out.flush()
            self.counts.add("bytes_out", f.tell())
        data.close()
        self.send(226, "done")

    def do_stor(self, arg: str) -> None:
        real = self.resolve(arg)
        if not os.path.isdir(os.path.dirname(real)):
            self.send(550, "no such directory")
            return
        self.send(150, "receiving")
        data = self.open_data()
        if data is None:
            self.send(425, "no data connection")
            return
        n = 0
        with open(real, "wb") as f:
            while chunk := data.recv(65536):
                f.write(chunk)
                n += len(chunk)
        self.counts.add("bytes_in", n)
        data.close()
        self.send(226, "done")

    def do_dele(self, arg: str) -> None:
        real = self.resolve(arg)
        if not os.path.isfile(real):
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
        dst = self.resolve(arg)
        if self.rnfr is None or not os.path.isdir(os.path.dirname(dst)):
            self.send(550, "RNFR first / no such directory")
            return
        os.rename(self.rnfr, dst)
        self.rnfr = None
        self.send(250, "renamed")

    def do_mkd(self, arg: str) -> None:
        real = self.resolve(arg)
        if os.path.exists(real):
            self.send(550, "already exists")
            return
        os.mkdir(real)
        self.send(257, f'"{self.virtual(arg)}"')


class Server:
    """Threaded FTP server over ``root`` with one user."""

    def __init__(self, root: str, users: dict[str, str]):
        self.root = os.path.abspath(root)
        self.users = users
        self.counts = Counts()
        self.listener = socket.socket()
        self.listener.bind(("127.0.0.1", 0))
        self.listener.listen(64)
        self.port = self.listener.getsockname()[1]

    def serve(self) -> None:
        while True:
            try:
                conn, _ = self.listener.accept()
            except OSError:
                return  # listener closed
            _Session(conn, self).start()


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print("usage: ftpserver.py ROOT USER PASSWORD", file=sys.stderr)
        return 2
    root, user, password = argv
    server = Server(root, {user: password})
    threading.Thread(target=server.serve, daemon=True).start()
    print(f"PORT {server.port}", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "stats":
            print(json.dumps(server.counts.snapshot()), flush=True)
        elif cmd == "reset":
            server.counts.reset()
            print("ok", flush=True)
        elif cmd == "quit":
            break
    server.listener.close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
