"""A small PostgreSQL wire-protocol (v3) client for the benchmark.

No Python PostgreSQL client library is installed, so the benchmark
speaks the protocol itself: simple and extended query (binds, binary
result formats, ``maxRows`` portals), COPY in both directions, and a
CancelRequest when a statement outlives its timeout.

The reader is built so that it is not the bottleneck on large results:
it frames messages from one growing buffer filled by ``recv_into`` and
keeps DataRow payloads undecoded (or only every ``keep_every``-th of
them); decoding happens after the clock stops.
"""
import datetime
import socket
import struct
import time

PROTOCOL_V3 = 196608
CANCEL_CODE = 80877102

OID_INT8, OID_INT2, OID_INT4 = 20, 21, 23
OID_FLOAT4, OID_FLOAT8, OID_NUMERIC = 700, 701, 1700
OID_DATE, OID_TIME, OID_TIMESTAMP, OID_TIMESTAMPTZ = 1082, 1083, 1114, 1184
NUMERIC_OIDS = {OID_INT2, OID_INT4, OID_INT8, OID_FLOAT4, OID_FLOAT8, OID_NUMERIC}

_I32 = struct.Struct("!i")
_I16 = struct.Struct("!h")
_HDR = struct.Struct("!ci")


class PgError(Exception):
    def __init__(self, sqlstate, message):
        super().__init__(f"{sqlstate}: {message}")
        self.sqlstate = sqlstate
        self.message = message


class StatementTimeout(Exception):
    pass


class Result:
    """What one statement returned. ``rows`` holds raw DataRow (or
    CopyData) payloads; ``nrows``/``nbytes`` count every row received."""
    __slots__ = ("columns", "rows", "nrows", "nbytes", "tag", "error",
                 "t_send", "t_first_row", "t_ready", "client_cpu_ns")

    def __init__(self):
        self.columns = []      # [(name, type_oid, format)]
        self.rows = []
        self.nrows = 0
        self.nbytes = 0
        self.tag = None
        self.error = None
        self.t_send = self.t_first_row = self.t_ready = 0
        self.client_cpu_ns = 0

    @property
    def latency_ns(self):
        return self.t_ready - self.t_send

    @property
    def first_row_ns(self):
        return (self.t_first_row or self.t_ready) - self.t_send


def _cstr(s):
    return s.encode() + b"\0"


def _msg(kind, body):
    return kind + _I32.pack(len(body) + 4) + body


class Conn:
    def __init__(self, host, port, timeout_s=600.0, connect_timeout_s=30.0):
        self.host, self.port = host, port
        self.timeout_s = timeout_s
        self.sock = socket.create_connection((host, port), connect_timeout_s)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = bytearray(1 << 20)
        self.start = 0   # first unread byte
        self.end = 0     # one past the last received byte
        self.pid = self.secret = None
        self.params = {}
        self.sock.sendall(self._startup())
        self.sock.settimeout(connect_timeout_s)
        while True:
            t, body = self._read()
            if t == b"R":
                if _I32.unpack_from(body)[0] != 0:
                    raise PgError("28000", "unsupported authentication request")
            elif t == b"S":
                k, v = body.split(b"\0")[:2]
                self.params[k.decode()] = v.decode()
            elif t == b"K":
                self.pid, self.secret = struct.unpack("!ii", body)
            elif t == b"E":
                raise _error(body)
            elif t == b"Z":
                break
        self.sock.settimeout(timeout_s)

    @staticmethod
    def _startup():
        body = (_I32.pack(PROTOCOL_V3) + _cstr("user") + _cstr("bench") +
                _cstr("database") + _cstr("main") + b"\0")
        return _I32.pack(len(body) + 4) + body

    def close(self):
        try:
            self.sock.sendall(_msg(b"X", b""))
        except OSError:
            pass
        self.sock.close()

    # ---------------------------------------------------------- reading

    def _fill(self, need):
        """Make at least ``need`` unread bytes available."""
        while self.end - self.start < need:
            if len(self.buf) - self.end < max(need - (self.end - self.start), 1 << 16):
                n = self.end - self.start
                self.buf[:n] = self.buf[self.start:self.end]
                self.start, self.end = 0, n
                if len(self.buf) - n < max(need, 1 << 16):
                    self.buf.extend(bytes(max(need, len(self.buf))))
            got = self.sock.recv_into(memoryview(self.buf)[self.end:])
            if not got:
                raise ConnectionError("server closed the connection")
            self.end += got

    def _read(self):
        """One message as (type byte, payload bytes)."""
        if self.end - self.start < 5:
            self._fill(5)
        t, n = _HDR.unpack_from(self.buf, self.start)
        if self.end - self.start < n + 1:
            self._fill(n + 1)
        s = self.start + 5
        self.start += n + 1
        return t, bytes(self.buf[s:s + n - 4])

    def _collect(self, res, keep_every, send_more=None):
        """Read one statement's replies up to ReadyForQuery into ``res``.
        ``send_more(type)`` lets extended-protocol callers react to
        PortalSuspended/CommandComplete before Sync."""
        keep = keep_every
        buf = self.buf
        while True:
            # DataRow fast path: frame without building a memoryview
            if self.end - self.start >= 5:
                t, n = _HDR.unpack_from(buf, self.start)
                if t == b"D" and self.end - self.start >= n + 1:
                    if not res.t_first_row:
                        res.t_first_row = time.monotonic_ns()
                    if keep and res.nrows % keep == 0:
                        res.rows.append(bytes(buf[self.start + 5:self.start + 1 + n]))
                    res.nrows += 1
                    res.nbytes += n + 1
                    self.start += n + 1
                    continue
            t, body = self._read()
            buf = self.buf  # _fill may have grown it
            if t == b"D" or t == b"d":
                if not res.t_first_row:
                    res.t_first_row = time.monotonic_ns()
                if keep and res.nrows % keep == 0:
                    res.rows.append(body)
                res.nrows += 1
                res.nbytes += len(body) + 5
            elif t == b"T":
                res.columns = _row_description(body)
            elif t == b"C":
                res.tag = body[:-1].decode()
                if send_more:
                    send_more(t)
            elif t == b"s":
                if send_more:
                    send_more(t)
            elif t == b"E":
                res.error = _error(body)
                if send_more:
                    send_more(t)
            elif t == b"Z":
                res.t_ready = time.monotonic_ns()
                return res
            elif t == b"G":   # CopyInResponse: caller streams the data
                return res
            # '1' '2' '3' 'n' 't' 'H' 'c' 'I' 'N' 'S': nothing to keep

    def _run(self, payload, keep_every, send_more=None, copy_data=None):
        res = Result()
        cpu0 = time.thread_time_ns()
        res.t_send = time.monotonic_ns()
        self.sock.sendall(payload)
        try:
            self._collect(res, keep_every, send_more)
            if copy_data is not None and not res.t_ready:
                for chunk in copy_data:
                    self.sock.sendall(_msg(b"d", chunk))
                self.sock.sendall(_msg(b"c", b""))
                self._collect(res, keep_every)
        except socket.timeout:
            self._cancel_and_drain()
            raise StatementTimeout(f"no reply within {self.timeout_s:.0f} s")
        res.client_cpu_ns = time.thread_time_ns() - cpu0
        return res

    def _cancel_and_drain(self):
        """CancelRequest on a fresh socket, then read this connection up
        to ReadyForQuery so that it stays usable."""
        with socket.create_connection((self.host, self.port), 10) as c:
            c.sendall(struct.pack("!iiii", 16, CANCEL_CODE, self.pid, self.secret))
        try:
            self._collect(Result(), 0)
        except (socket.timeout, ConnectionError):
            self.sock.close()
            raise

    # -------------------------------------------------------- protocols

    def query(self, sql, keep_every=1):
        """Simple protocol: one Query message. Also reads COPY ... TO
        STDOUT, whose rows arrive as CopyData."""
        return self._run(_msg(b"Q", _cstr(sql)), keep_every)

    def execute(self, sql, params=(), result_format=0, max_rows=0, keep_every=1):
        """Extended protocol: Parse/Bind/Describe/Execute/Sync on the
        unnamed statement and portal. ``params`` are text-encoded bytes
        or None, their types left to the server; with ``max_rows`` the
        portal is fetched in pages, each page a further Execute."""
        bind = (b"\0\0" + _I16.pack(1) + _I16.pack(0) + _I16.pack(len(params)))
        for p in params:
            bind += _I32.pack(-1) if p is None else _I32.pack(len(p)) + p
        bind += _I16.pack(1) + _I16.pack(result_format)
        execute = _msg(b"E", b"\0" + _I32.pack(max_rows))
        payload = (_msg(b"P", b"\0" + _cstr(sql) + _I16.pack(0)) +
                   _msg(b"B", bind) + _msg(b"D", b"P\0") + execute)
        if not max_rows:
            return self._run(payload + _msg(b"S", b""), keep_every)

        def more(t):
            if t == b"s":
                self.sock.sendall(execute + _msg(b"H", b""))
            else:   # CommandComplete or ErrorResponse ends the portal
                self.sock.sendall(_msg(b"S", b""))
        return self._run(payload + _msg(b"H", b""), keep_every, more)

    def copy_in(self, sql, chunks):
        """COPY ... FROM STDIN: stream ``chunks`` (bytes) as CopyData."""
        return self._run(_msg(b"Q", _cstr(sql)), 1, copy_data=chunks)


def _error(body):
    fields = {}
    for part in body.split(b"\0"):
        if part:
            fields[chr(part[0])] = part[1:].decode(errors="replace")
    return PgError(fields.get("C", "XX000"), fields.get("M", ""))


def _row_description(body):
    n = _I16.unpack_from(body)[0]
    pos, cols = 2, []
    for _ in range(n):
        end = body.index(b"\0", pos)
        name = body[pos:end].decode()
        oid, = _I32.unpack_from(body, end + 7)
        fmt, = _I16.unpack_from(body, end + 17)
        cols.append((name, oid, fmt))
        pos = end + 19
    return cols


def split_row(payload):
    """DataRow payload -> list of raw field bytes (None for NULL)."""
    n, = _I16.unpack_from(payload)
    pos, out = 2, []
    for _ in range(n):
        ln, = _I32.unpack_from(payload, pos)
        pos += 4
        if ln < 0:
            out.append(None)
        else:
            out.append(payload[pos:pos + ln])
            pos += ln
    return out


_PG_EPOCH_US = 946684800 * 1_000_000


def decode_binary(oid, raw):
    """Binary result format of the column types the benchmark fetches
    in binary (int4, int8, float8, timestamp)."""
    if raw is None:
        return None
    if oid == OID_INT8:
        return struct.unpack("!q", raw)[0]
    if oid == OID_INT4:
        return struct.unpack("!i", raw)[0]
    if oid == OID_FLOAT8:
        return struct.unpack("!d", raw)[0]
    if oid in (OID_TIMESTAMP, OID_TIMESTAMPTZ):
        us = struct.unpack("!q", raw)[0] + _PG_EPOCH_US
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=us)
    raise ValueError(f"no binary decoder for type oid {oid}")
