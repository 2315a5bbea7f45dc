"""Benchmark-owned FTP server, run as its own process.

A passive-mode server for the verbs the engine's FTP handler and pool
use (USER/PASS/TYPE/PASV/RETR/STOR/MKD/CWD/NOOP/QUIT), one thread per
control connection. It lives in a separate process so its socket work
never competes with the driver for the GIL, and it counts connections
and commands by verb in a memory-mapped file for the ``pool.*`` metrics.

    python3 perfbench/ftpd.py <root> <counts-file>

prints its port on the first stdout line and serves until its stdin
closes. ``FTPServerProcess`` starts it, reads the counts and stops it.
"""

from __future__ import annotations

import mmap
import os
import socket
import struct
import subprocess
import sys
import threading

COUNTERS = ("connects", "RETR", "STOR", "NOOP", "MKD", "bytes_out", "bytes_in")
_IDX = {name: i for i, name in enumerate(COUNTERS)}
_FMT = f"<{len(COUNTERS)}q"
USER = PASSWORD = "bench"


def _serve(root: str, counts_path: str) -> None:
    root = os.path.abspath(root)
    lock = threading.Lock()
    with open(counts_path, "r+b") as fh:
        counts = mmap.mmap(fh.fileno(), struct.calcsize(_FMT))
    stop = threading.Event()

    def watch_stdin() -> None:
        sys.stdin.buffer.read()  # returns at EOF: the parent closed the pipe or ended
        stop.set()

    threading.Thread(target=watch_stdin, daemon=True).start()

    def bump(name: str, n: int = 1) -> None:
        with lock:
            off = 8 * _IDX[name]
            counts[off:off + 8] = struct.pack("<q", struct.unpack_from("<q", counts, off)[0] + n)

    def resolve(cwd: str, path: str) -> str:
        joined = path if path.startswith("/") else f"{cwd.rstrip('/')}/{path}"
        full = os.path.abspath(os.path.join(root, joined.lstrip("/")))
        if full != root and not full.startswith(root + os.sep):
            raise PermissionError(path)
        return full

    def session(conn: socket.socket) -> None:
        rf = conn.makefile("rb")

        def send(line: str) -> None:
            conn.sendall((line + "\r\n").encode())

        send("220 perfbench ftp ready")
        cwd, data_listener, authed = "/", None, False
        try:
            while True:
                raw = rf.readline()
                if not raw:
                    return
                verb, _, arg = raw.decode().strip().partition(" ")
                verb = verb.upper()
                if verb in ("RETR", "STOR", "NOOP", "MKD"):
                    bump(verb)
                if verb == "USER":
                    send("331 need password")
                elif verb == "PASS":
                    authed = arg == PASSWORD
                    send("230 ok" if authed else "530 bad credentials")
                elif not authed:
                    send("530 not logged in")
                elif verb in ("TYPE", "NOOP"):
                    send("200 ok")
                elif verb == "PWD":
                    send(f'257 "{cwd}"')
                elif verb == "CWD":
                    target = resolve(cwd, arg)
                    if os.path.isdir(target):
                        rel = os.path.relpath(target, root)
                        cwd = "/" if rel == "." else "/" + rel
                        send("250 ok")
                    else:
                        send("550 no such directory")
                elif verb == "MKD":
                    target = resolve(cwd, arg)
                    if os.path.isdir(target):
                        send("550 exists")
                    else:
                        try:
                            os.mkdir(target)
                            send(f'257 "{arg}" created')
                        except FileExistsError:  # another session won the race
                            send("550 exists")
                        except FileNotFoundError:
                            send("550 parent missing")
                elif verb == "PASV":
                    if data_listener is not None:
                        data_listener.close()
                    data_listener = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
                    data_listener.bind(("127.0.0.1", 0))
                    data_listener.listen(1)
                    p = data_listener.getsockname()[1]
                    send(f"227 entering passive (127,0,0,1,{p >> 8},{p & 255})")
                elif verb == "RETR":
                    path = resolve(cwd, arg)
                    if not os.path.isfile(path):
                        send("550 no such file")
                        continue
                    send("150 opening data")
                    data, _ = data_listener.accept()
                    with open(path, "rb") as fh:
                        payload = fh.read()
                    data.sendall(payload)
                    data.close()
                    bump("bytes_out", len(payload))
                    send("226 done")
                elif verb == "STOR":
                    path = resolve(cwd, arg)
                    send("150 opening data")
                    data, _ = data_listener.accept()
                    chunks = []
                    while True:
                        b = data.recv(1 << 18)
                        if not b:
                            break
                        chunks.append(b)
                    data.close()
                    payload = b"".join(chunks)
                    try:
                        with open(path, "wb") as fh:
                            fh.write(payload)
                        bump("bytes_in", len(payload))
                        send("226 done")
                    except FileNotFoundError:
                        send("550 parent missing")
                elif verb == "QUIT":
                    send("221 bye")
                    return
                else:
                    send(f"502 {verb} not implemented")
        except Exception:
            try:
                send("421 server error")
            except OSError:
                pass
        finally:
            if data_listener is not None:
                data_listener.close()
            conn.close()

    listener = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    listener.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    listener.bind(("127.0.0.1", 0))
    listener.listen(64)
    listener.settimeout(0.2)
    print(listener.getsockname()[1], flush=True)
    while not stop.is_set():
        try:
            conn, _ = listener.accept()
        except socket.timeout:
            continue
        conn.settimeout(None)
        bump("connects")
        threading.Thread(target=session, args=(conn,), daemon=True).start()
    listener.close()


class FTPServerProcess:
    """Start/stop handle; ``counts()`` reads the shared counters."""

    def __init__(self, root: str, counts_path: str) -> None:
        with open(counts_path, "wb") as fh:
            fh.write(bytes(struct.calcsize(_FMT)))
        with open(counts_path, "r+b") as fh:
            self._counts = mmap.mmap(fh.fileno(), struct.calcsize(_FMT))
        self._proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), root, counts_path],
                                      stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        line = self._proc.stdout.readline()
        if not line.strip():
            self.stop()
            raise RuntimeError("the FTP server did not start")
        self.port = int(line)

    def counts(self) -> dict[str, int]:
        return dict(zip(COUNTERS, struct.unpack_from(_FMT, self._counts)))

    def stop(self) -> None:
        """Close the server's stdin and wait until it has ended."""
        if self._proc.poll() is None:
            self._proc.stdin.close()
            try:
                self._proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()
        self._proc.stdout.close()


if __name__ == "__main__":
    _serve(sys.argv[1], sys.argv[2])
