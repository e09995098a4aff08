"""A minimal MySQL client for the benchmark: the handshake, COM_QUERY
and text-resultset decoding of the public client/server protocol.

No MySQL client library is installed, and the benchmark must not depend
on the test suite, so it carries its own client. Every resultset row is
decoded into Python strings (``None`` for SQL NULL), as a connector
would before handing rows to an application.
"""

from __future__ import annotations

import socket
import struct

_CLIENT_PROTOCOL_41 = 0x00000200
_CLIENT_SECURE_CONNECTION = 0x00008000
_CLIENT_PLUGIN_AUTH = 0x00080000
_CLIENT_DEPRECATE_EOF = 0x01000000
_COM_QUIT = 0x01
_COM_QUERY = 0x03


class ServerError(Exception):
    """An ERR packet: the server refused or failed the statement."""

    def __init__(self, code: int, message: str):
        super().__init__(f"{code}: {message}")
        self.code = code


def _lenenc(buf: bytes, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if first == 0xFD:
        return struct.unpack("<I", buf[pos + 1 : pos + 4] + b"\x00")[0], pos + 4
    return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9


class Client:
    """One connection. ``query`` returns ``("rows", names, rows)`` for a
    resultset and ``("ok", affected_rows)`` otherwise; an ERR packet
    raises :class:`ServerError`."""

    def __init__(self, port: int):
        # a statement that outlives this has hung; the run must still end
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=60)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = self.sock.makefile("rb", buffering=1 << 16)
        self.seq = 0
        self._handshake()

    def close(self) -> None:
        try:
            self._command(_COM_QUIT)
        except OSError:
            pass
        self._buf.close()
        self.sock.close()

    # framing
    def _read_packet(self) -> bytes:
        out = b""
        while True:
            header = self._buf.read(4)
            if len(header) < 4:
                raise ConnectionError("server closed the connection")
            length = header[0] | header[1] << 8 | header[2] << 16
            self.seq = header[3]
            chunk = self._buf.read(length)
            if len(chunk) < length:
                raise ConnectionError("server closed the connection")
            out += chunk
            if length < 0xFFFFFF:
                return out

    def _write_packet(self, payload: bytes) -> None:
        self.seq = (self.seq + 1) % 256
        self.sock.sendall(struct.pack("<I", len(payload))[:3] + bytes([self.seq]) + payload)

    def _command(self, cmd: int, body: bytes = b"") -> None:
        self.seq = 255  # a command starts a new sequence at 0
        self._write_packet(bytes([cmd]) + body)

    def _handshake(self) -> None:
        greeting = self._read_packet()
        if greeting[0] != 0x0A:
            raise ConnectionError(f"unexpected protocol version {greeting[0]}")
        caps = (
            _CLIENT_PROTOCOL_41
            | _CLIENT_SECURE_CONNECTION
            | _CLIENT_PLUGIN_AUTH
            | _CLIENT_DEPRECATE_EOF
        )
        self._write_packet(
            struct.pack("<I", caps)
            + struct.pack("<I", 1 << 24)
            + bytes([45])  # utf8mb4
            + b"\x00" * 23
            + b"root\x00"
            + b"\x00"  # empty auth response: the server accepts any login
            + b"mysql_native_password\x00"
        )
        self._check(self._read_packet())

    @staticmethod
    def _check(pkt: bytes) -> bytes:
        if pkt[0] == 0xFF:
            code = struct.unpack_from("<H", pkt, 1)[0]
            raise ServerError(code, pkt[9:].decode("utf-8", "replace"))
        return pkt

    def query(self, sql: str):
        self._command(_COM_QUERY, sql.encode("utf-8"))
        first = self._check(self._read_packet())
        if first[0] == 0x00:
            affected, _ = _lenenc(first, 1)
            return ("ok", affected)
        n_cols, _ = _lenenc(first, 0)
        names = []
        for _ in range(n_cols):
            pkt = self._read_packet()
            pos = 0
            for field in range(6):  # catalog, schema, table, org_table, name, org_name
                ln, pos = _lenenc(pkt, pos)
                if field == 4:
                    names.append(pkt[pos : pos + ln].decode("utf-8"))
                pos += ln
        rows = []
        while True:
            pkt = self._read_packet()
            if pkt[0] == 0xFE and len(pkt) < 0xFFFFFF:
                break  # OK-with-0xFE-header row terminator
            self._check(pkt)
            row = []
            pos = 0
            for _ in range(n_cols):
                if pkt[pos] == 0xFB:
                    row.append(None)
                    pos += 1
                    continue
                ln, pos = _lenenc(pkt, pos)
                row.append(pkt[pos : pos + ln].decode("utf-8"))
                pos += ln
            rows.append(row)
        return ("rows", names, rows)
