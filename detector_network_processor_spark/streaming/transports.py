"""Network transports for the MQTT source (S1) and the K1/K2 sinks
(SURVEY.md §2.1, §2.9).

The reference subscribes to detector topics and publishes L1 lines over
MQTT (src/application.cpp:186-210, include/source/mqtt.h:386-433,
include/sink/mqtt.h:146-184) and writes points to InfluxDB over its HTTP
line-protocol endpoint (include/sink/database.h:56-190). The engine keeps
the FORMATTERS/PARSERS in the data plane (streaming/sinks.py,
sources/lines.py — pure column expressions, oracle-testable) and pairs
them here with minimal stdlib transport clients:

- ``MqttPublisher`` — MQTT 3.1.1 over a TCP socket: CONNECT/CONNACK,
  PUBLISH at QoS 0 or 1 (PUBACK-acknowledged), DISCONNECT. No external
  client library (none is available in this environment); the packet layer
  is the public OASIS wire format.
- ``MqttSubscriber`` — the ingest counterpart: SUBSCRIBE/SUBACK, then a
  generator over inbound PUBLISH packets (QoS-1 messages PUBACK'd).
  ``spool_messages`` lands drained (topic, payload) batches as parquet
  files for Spark's streaming file source — the standard bridge when no
  native connector exists: the spool directory gives replayable,
  checkpoint-compatible offsets (file names), which a raw socket cannot.
- ``InfluxWriter`` — line-protocol batches POSTed to ``/write?db=...``
  via ``http.client``.

All are driver-side objects (subscriber thread / ``foreachBatch``
callbacks); the reference's source and sink threads are likewise outside
its analysis data plane. Per-executor fan-out at scale would wrap the
same classes in ``mapPartitions``; one spool-writer per subscribed topic
partition mirrors a multi-broker deployment.
"""

from __future__ import annotations

import http.client
import os
import socket
import struct
import urllib.parse

# MQTT 3.1.1 control packet types (public OASIS spec, section 2.2.1)
_CONNECT, _CONNACK, _PUBLISH, _PUBACK, _DISCONNECT = 0x10, 0x20, 0x30, 0x40, 0xE0
_SUBSCRIBE, _SUBACK = 0x80, 0x90


def _encode_remaining_length(n: int) -> bytes:
    """MQTT variable-length remaining-length encoding (spec 2.2.3)."""
    out = bytearray()
    while True:
        byte = n % 128
        n //= 128
        out.append(byte | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _decode_remaining_length(read_byte) -> int:
    mult, value = 1, 0
    for _ in range(4):
        b = read_byte()
        value += (b & 0x7F) * mult
        if not b & 0x80:
            return value
        mult *= 128
    raise ValueError("malformed remaining length")


def _utf8(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


class MqttPublisher:
    """Minimal MQTT 3.1.1 publishing client (QoS 0/1), blocking socket."""

    def __init__(self, host: str, port: int = 1883, client_id: str = "dnp-spark",
                 keepalive_s: int = 60, timeout_s: float = 10.0):
        self._sock = socket.create_connection((host, port), timeout=timeout_s)
        self._packet_id = 0
        var_header = _utf8("MQTT") + bytes([4]) + bytes([0x02]) + struct.pack(">H", keepalive_s)
        payload = _utf8(client_id)
        self._send(_CONNECT, var_header + payload)
        ack = self._read_packet()
        if ack[0] != _CONNACK or ack[1][1] != 0:
            raise ConnectionError(f"CONNACK refused: {ack[1]!r}")

    def publish(self, topic: str, payload: str | bytes, qos: int = 0) -> None:
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        flags = qos << 1
        var_header = _utf8(topic)
        if qos:
            self._packet_id = self._packet_id % 0xFFFF + 1
            var_header += struct.pack(">H", self._packet_id)
        self._send(_PUBLISH | flags, var_header + payload)
        if qos:
            ptype, body = self._read_packet()
            if ptype != _PUBACK or struct.unpack(">H", body[:2])[0] != self._packet_id:
                raise ConnectionError("PUBACK missing or out of order")

    def publish_lines(self, topic: str, lines, qos: int = 0) -> int:
        """Drain an iterable of text lines; returns the publish count."""
        n = 0
        for line in lines:
            self.publish(topic, line, qos=qos)
            n += 1
        return n

    def close(self) -> None:
        try:
            self._send(_DISCONNECT, b"")
        finally:
            self._sock.close()

    def _send(self, header: int, body: bytes) -> None:
        self._sock.sendall(bytes([header]) + _encode_remaining_length(len(body)) + body)

    def _read_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self._sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("socket closed")
            buf += chunk
        return buf

    def _read_packet(self) -> tuple[int, bytes]:
        header = self._read_exact(1)[0]
        length = _decode_remaining_length(lambda: self._read_exact(1)[0])
        return header & 0xF0, self._read_exact(length)


class MqttSubscriber:
    """Minimal MQTT 3.1.1 subscribing client (QoS 0/1), blocking socket.

    The reference's event source (include/source/mqtt.h:386-433): subscribe
    to a topic filter, stream (topic, payload) pairs to the parser layer.
    """

    def __init__(self, host: str, port: int = 1883, topic_filter: str = "muonpi/data/#",
                 client_id: str = "dnp-spark-sub", qos: int = 0,
                 keepalive_s: int = 60, timeout_s: float = 10.0):
        self._sock = socket.create_connection((host, port), timeout=timeout_s)
        var_header = _utf8("MQTT") + bytes([4]) + bytes([0x02]) + struct.pack(">H", keepalive_s)
        self._send(_CONNECT, var_header + _utf8(client_id))
        ptype, body = self._read_packet()
        if ptype != _CONNACK or body[1] != 0:
            raise ConnectionError(f"CONNACK refused: {body!r}")
        # SUBSCRIBE fixed header must carry flags 0b0010 (spec 3.8.1)
        self._send(_SUBSCRIBE | 0x02, struct.pack(">H", 1) + _utf8(topic_filter) + bytes([qos]))
        ptype, body = self._read_packet()
        if ptype != _SUBACK or body[2] > 2:
            raise ConnectionError(f"SUBACK refused: {body!r}")

    def messages(self, max_messages: int | None = None):
        """Yield (topic, payload-bytes) per inbound PUBLISH; QoS-1 messages
        are PUBACK'd. Stops after ``max_messages``, on DISCONNECT, or on
        socket close/timeout."""
        n = 0
        while max_messages is None or n < max_messages:
            try:
                ptype_raw, body = self._read_packet_raw()
            except (ConnectionError, socket.timeout, TimeoutError):
                return
            kind = ptype_raw & 0xF0
            if kind == _DISCONNECT:
                return
            if kind != _PUBLISH:
                continue  # ignore pings etc. from permissive brokers
            qos = (ptype_raw >> 1) & 0x3
            tlen = struct.unpack(">H", body[:2])[0]
            topic = body[2 : 2 + tlen].decode("utf-8")
            rest = body[2 + tlen :]
            if qos:
                pid, rest = rest[:2], rest[2:]
                try:
                    self._send(_PUBACK, pid)
                except OSError:
                    # broker went away mid-ack; the message is already in
                    # hand (at-least-once) — deliver it, then stop.
                    yield topic, rest
                    return
            yield topic, rest
            n += 1

    def close(self) -> None:
        try:
            self._send(_DISCONNECT, b"")
        finally:
            self._sock.close()

    _send = MqttPublisher._send
    _read_exact = MqttPublisher._read_exact
    _read_packet = MqttPublisher._read_packet

    def _read_packet_raw(self) -> tuple[int, bytes]:
        """Like _read_packet but keeps the flag bits (PUBLISH carries QoS
        in the low nibble)."""
        header = self._read_exact(1)[0]
        length = _decode_remaining_length(lambda: self._read_exact(1)[0])
        return header, self._read_exact(length)


def spool_messages(subscriber: MqttSubscriber, spool_dir: str,
                   batch_size: int = 1000, max_messages: int | None = None) -> int:
    """Drain subscriber messages into sequentially-named parquet files of
    (topic, payload) — the schema ``sources/lines.py::parse_events``
    ingests. A Spark streaming file source over ``spool_dir`` turns this
    into the live S1→S7 path:

        spark.readStream.schema("topic string, payload string")
             .parquet(spool_dir)

    File-granularity offsets make the bridge replayable and restart-safe
    (the file source checkpoint remembers consumed files); batches are
    written atomically (tmp name + rename) so the source never reads a
    half-written file. Returns the message count drained."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(spool_dir, exist_ok=True)
    buf: list[tuple[str, str]] = []
    seq = n = 0

    def flush():
        nonlocal seq
        if not buf:
            return
        table = pa.table(
            {"topic": [t for t, _ in buf], "payload": [p for _, p in buf]}
        )
        tmp = os.path.join(spool_dir, f"_tmp_batch_{seq:08d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(spool_dir, f"batch_{seq:08d}.parquet"))
        seq += 1
        buf.clear()

    for topic, payload in subscriber.messages(max_messages):
        buf.append((topic, payload.decode("utf-8", errors="replace")))
        n += 1
        if len(buf) >= batch_size:
            flush()
    flush()
    return n


class InfluxWriter:
    """InfluxDB 1.x line-protocol writer over HTTP (database.h:56-190)."""

    def __init__(self, host: str, port: int = 8086, database: str = "muonpi",
                 precision: str = "ns", timeout_s: float = 10.0):
        self._host, self._port, self._timeout = host, port, timeout_s
        self._query = urllib.parse.urlencode({"db": database, "precision": precision})

    def write_lines(self, lines) -> int:
        body = "\n".join(lines).encode("utf-8")
        if not body:
            return 0
        conn = http.client.HTTPConnection(self._host, self._port, timeout=self._timeout)
        try:
            conn.request("POST", f"/write?{self._query}", body,
                         {"Content-Type": "text/plain; charset=utf-8"})
            resp = conn.getresponse()
            resp.read()
            if resp.status >= 300:
                raise ConnectionError(f"influx write failed: HTTP {resp.status}")
        finally:
            conn.close()
        return body.count(b"\n") + 1


_INFLUX_CHUNK = 5000  # lines per line-protocol POST


def mqtt_foreach_batch(publisher: MqttPublisher, topic: str, qos: int = 0):
    """foreachBatch callback: drain a formatted-line DataFrame (a ``line``
    column) to MQTT.

    Rows stream through ``toLocalIterator`` (one partition in driver memory
    at a time) instead of ``collect`` — an unbounded L1 stream routed here
    never materializes a whole micro-batch on the driver."""

    def handle(batch_df, batch_id: int) -> None:
        publisher.publish_lines(
            topic,
            (r["line"] for r in batch_df.select("line").toLocalIterator(prefetchPartitions=True)),
            qos=qos,
        )

    return handle


def influx_foreach_batch(writer: InfluxWriter):
    """foreachBatch callback: drain formatted points (a ``point`` column)
    to InfluxDB.

    Streams via ``toLocalIterator`` and POSTs in ``_INFLUX_CHUNK``-line bodies,
    bounding driver memory AND request size regardless of batch volume."""

    def handle(batch_df, batch_id: int) -> None:
        chunk: list[str] = []
        for r in batch_df.select("point").toLocalIterator(prefetchPartitions=True):
            chunk.append(r["point"])
            if len(chunk) >= _INFLUX_CHUNK:
                writer.write_lines(chunk)
                chunk = []
        if chunk:
            writer.write_lines(chunk)

    return handle
