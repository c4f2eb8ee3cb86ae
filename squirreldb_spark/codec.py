"""Prometheus remote-storage wire codecs.

The reference accepts remote-write/read bodies as snappy-compressed
protobuf (reference api/remotestorage/write.go:80-170, api/api.go:58-61,
using the published prompb schema). No generated prompb bindings are
used: the protobuf codec is implemented directly from the public
specification:

* protobuf wire format (base-128 varints, little-endian fixed64,
  length-delimited submessages) for the prompb message subset::

      WriteRequest { repeated TimeSeries timeseries = 1; }
      TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2; }
      Label        { string name = 1; string value = 2; }
      Sample       { double value = 1; int64 timestamp = 2; }
      ReadRequest  { repeated Query queries = 1; }
      Query        { int64 start_timestamp_ms = 1; int64 end_timestamp_ms = 2;
                     repeated LabelMatcher matchers = 3; }
      LabelMatcher { Type type = 1; string name = 2; string value = 3; }
      ReadResponse { repeated QueryResult results = 1; }
      QueryResult  { repeated TimeSeries timeseries = 1; }

  Unknown fields (exemplars, histograms, metadata, hints) are skipped by
  wire type, so payloads from current Prometheus versions decode fine.

* snappy *block* format (what remote write/read use — not the framing
  format) goes through pyarrow's snappy codec, which Spark's Arrow
  exchange already loads. Untrusted bodies are checked before pyarrow
  sees them (:func:`snappy_decompress`).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import pyarrow as pa

# --------------------------------------------------------------- varints


def write_uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _int64(n: int) -> int:
    """Two's-complement int64 from an unsigned varint value."""
    return n - (1 << 64) if n >= 1 << 63 else n


# ------------------------------------------------------- protobuf frames


def _tag(field_no: int, wire: int) -> bytes:
    return write_uvarint(field_no << 3 | wire)


def _len_delim(field_no: int, payload: bytes) -> bytes:
    return _tag(field_no, 2) + write_uvarint(len(payload)) + payload


def _varint_field(field_no: int, n: int) -> bytes:
    if n < 0:
        n += 1 << 64
    return _tag(field_no, 0) + write_uvarint(n)


def _double_field(field_no: int, v: float) -> bytes:
    return _tag(field_no, 1) + struct.pack("<d", v)


def iter_fields(buf: bytes):
    """Yield (field_no, wire_type, value) skipping nothing; value is the
    varint int, the 8/4 raw bytes, or the delimited slice."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = read_uvarint(buf, pos)
        field_no, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = read_uvarint(buf, pos)
        elif wire == 1:
            v, pos = buf[pos:pos + 8], pos + 8
        elif wire == 2:
            ln, pos = read_uvarint(buf, pos)
            v, pos = buf[pos:pos + ln], pos + ln
        elif wire == 5:
            v, pos = buf[pos:pos + 4], pos + 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field_no, wire, v


# ----------------------------------------------------------- data model


@dataclass
class Sample:
    value: float
    timestamp_ms: int


@dataclass
class TimeSeries:
    labels: dict[str, str] = field(default_factory=dict)
    samples: list[Sample] = field(default_factory=list)


@dataclass
class Query:
    start_timestamp_ms: int = 0
    end_timestamp_ms: int = 0
    #: matcher tuples (op, name, value); op in '=', '!=', '=~', '!~'
    matchers: list[tuple[str, str, str]] = field(default_factory=list)


_MATCH_OPS = ["=", "!=", "=~", "!~"]  # prompb LabelMatcher.Type enum order


# --------------------------------------------------------------- encode


def encode_label(name: str, value: str) -> bytes:
    return _len_delim(1, name.encode()) + _len_delim(2, value.encode())


def encode_timeseries(ts: TimeSeries) -> bytes:
    out = bytearray()
    for name in ts.labels:
        out += _len_delim(1, encode_label(name, ts.labels[name]))
    for s in ts.samples:
        out += _len_delim(2, _double_field(1, s.value) + _varint_field(2, s.timestamp_ms))
    return bytes(out)


def encode_write_request(series: list[TimeSeries]) -> bytes:
    out = bytearray()
    for ts in series:
        out += _len_delim(1, encode_timeseries(ts))
    return bytes(out)


def encode_read_request(
    queries: list[Query],
    accepted_response_types: list[int] | None = None,
) -> bytes:
    out = bytearray()
    for q in queries:
        body = _varint_field(1, q.start_timestamp_ms) + _varint_field(
            2, q.end_timestamp_ms
        )
        for op, name, value in q.matchers:
            body += _len_delim(
                3,
                _varint_field(1, _MATCH_OPS.index(op))
                + _len_delim(2, name.encode())
                + _len_delim(3, value.encode()),
            )
        out += _len_delim(1, body)
    if accepted_response_types:
        # packed repeated enum, as proto3 marshals it
        packed = b"".join(write_uvarint(t) for t in accepted_response_types)
        out += _len_delim(2, packed)
    return bytes(out)


def encode_read_response(results: list[list[TimeSeries]]) -> bytes:
    out = bytearray()
    for series in results:
        body = bytearray()
        for ts in series:
            body += _len_delim(1, encode_timeseries(ts))
        out += _len_delim(1, bytes(body))
    return bytes(out)


# --------------------------------------------------------------- decode


def decode_timeseries(buf: bytes) -> TimeSeries:
    ts = TimeSeries()
    for field_no, wire, v in iter_fields(buf):
        if field_no == 1 and wire == 2:
            name = value = ""
            for fn, w, lv in iter_fields(v):
                if fn == 1 and w == 2:
                    name = lv.decode()
                elif fn == 2 and w == 2:
                    value = lv.decode()
            ts.labels[name] = value
        elif field_no == 2 and wire == 2:
            val, tstamp = 0.0, 0
            for fn, w, sv in iter_fields(v):
                if fn == 1 and w == 1:
                    val = struct.unpack("<d", sv)[0]
                elif fn == 2 and w == 0:
                    tstamp = _int64(sv)
            ts.samples.append(Sample(val, tstamp))
        # exemplars (3) / histograms (4) skipped
    return ts


def decode_write_request(buf: bytes) -> list[TimeSeries]:
    return [
        decode_timeseries(v)
        for field_no, wire, v in iter_fields(buf)
        if field_no == 1 and wire == 2
    ]


def decode_read_request(buf: bytes) -> list[Query]:
    out = []
    for field_no, wire, v in iter_fields(buf):
        if field_no != 1 or wire != 2:
            continue
        q = Query()
        for fn, w, qv in iter_fields(v):
            if fn == 1 and w == 0:
                q.start_timestamp_ms = _int64(qv)
            elif fn == 2 and w == 0:
                q.end_timestamp_ms = _int64(qv)
            elif fn == 3 and w == 2:
                op_i, name, value = 0, "", ""
                for mfn, mw, mv in iter_fields(qv):
                    if mfn == 1 and mw == 0:
                        op_i = mv
                    elif mfn == 2 and mw == 2:
                        name = mv.decode()
                    elif mfn == 3 and mw == 2:
                        value = mv.decode()
                if not 0 <= op_i < len(_MATCH_OPS):
                    raise ValueError(f"unknown matcher type {op_i}")
                q.matchers.append((_MATCH_OPS[op_i], name, value))
        out.append(q)
    return out


def decode_read_response(buf: bytes) -> list[list[TimeSeries]]:
    out = []
    for field_no, wire, v in iter_fields(buf):
        if field_no == 1 and wire == 2:
            out.append([
                decode_timeseries(tv)
                for fn, w, tv in iter_fields(v)
                if fn == 1 and w == 2
            ])
    return out


#: ReadRequest.ResponseType enum (prompb/remote.proto)
READ_SAMPLES = 0
READ_STREAMED_XOR_CHUNKS = 1


def decode_read_request_accepted_types(buf: bytes) -> list[int]:
    """ReadRequest.accepted_response_types (field 2, repeated enum —
    packed or unpacked). Absent means [SAMPLES] per the spec."""
    out: list[int] = []
    for field_no, wire, v in iter_fields(buf):
        if field_no != 2:
            continue
        if wire == 0:
            out.append(v)
        elif wire == 2:  # packed
            pos = 0
            while pos < len(v):
                t, pos = read_uvarint(v, pos)
                out.append(t)
    return out or [READ_SAMPLES]


# ------------------------------------------- XOR (Gorilla) chunk codec
#
# The reference streams remote-read responses as STREAMED_XOR_CHUNKS
# (api/api.go:58-61 ChunkedReadLimit, api/promql/queryable.go:436-445);
# the chunk payload is the Prometheus tsdb chunkenc XOR format (public
# tsdb/chunkenc/xor.go, the Gorilla paper's timestamp-dod + value-XOR
# scheme): 2-byte big-endian sample count, first sample as signed-varint
# timestamp + raw 64-bit value, second as uvarint time delta + XOR'd
# value, then delta-of-delta prefix codes. Bit-exact with upstream so a
# real Prometheus/Thanos client can decode our frames.


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.free = 0  # unused bits in the last byte

    def write_bit(self, bit: int) -> None:
        if self.free == 0:
            self.buf.append(0)
            self.free = 8
        if bit:
            self.buf[-1] |= 1 << (self.free - 1)
        self.free -= 1

    def write_bits(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.write_bit((value >> i) & 1)

    def write_byte(self, b: int) -> None:
        self.write_bits(b, 8)

    def write_varint(self, n: int) -> None:  # zigzag, like binary.PutVarint
        self.write_uvarint((n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1)

    def write_uvarint(self, n: int) -> None:
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                self.write_byte(b | 0x80)
            else:
                self.write_byte(b)
                return


class _BitReader:
    def __init__(self, data: bytes, pos_bits: int = 0):
        self.data = data
        self.pos = pos_bits

    def read_bit(self) -> int:
        byte = self.data[self.pos >> 3]
        bit = (byte >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return bit

    def read_bits(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.read_bit()
        return v

    def read_byte(self) -> int:
        return self.read_bits(8)

    def read_uvarint(self) -> int:
        result = shift = 0
        while True:
            b = self.read_byte()
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result
            shift += 7

    def read_varint(self) -> int:  # zigzag
        u = self.read_uvarint()
        return (u >> 1) ^ -(u & 1)


def _bit_range(x: int, nbits: int) -> bool:
    return -((1 << (nbits - 1)) - 1) <= x <= 1 << (nbits - 1)


def encode_xor_chunk(samples: list[Sample]) -> bytes:
    """Encode samples (ts-ascending) as a Prometheus XOR chunk."""
    if len(samples) > 0xFFFF:
        raise ValueError("XOR chunk holds at most 65535 samples")
    w = _BitWriter()
    w.write_bits(len(samples), 16)  # big-endian count, byte-aligned here
    prev_t = prev_tdelta = 0
    prev_v = 0
    leading, trailing = 0xFF, 0
    for i, s in enumerate(samples):
        t = s.timestamp_ms
        vbits = struct.unpack("<Q", struct.pack("<d", s.value))[0]
        if i == 0:
            w.write_varint(t)
            w.write_bits(vbits, 64)
        else:
            if i == 1:
                tdelta = t - prev_t
                w.write_uvarint(tdelta)
                prev_tdelta = tdelta
            else:
                tdelta = t - prev_t
                dod = tdelta - prev_tdelta
                prev_tdelta = tdelta
                if dod == 0:
                    w.write_bit(0)
                elif _bit_range(dod, 14):
                    w.write_bits(0b10, 2)
                    w.write_bits(dod & ((1 << 14) - 1), 14)
                elif _bit_range(dod, 17):
                    w.write_bits(0b110, 3)
                    w.write_bits(dod & ((1 << 17) - 1), 17)
                elif _bit_range(dod, 20):
                    w.write_bits(0b1110, 4)
                    w.write_bits(dod & ((1 << 20) - 1), 20)
                else:
                    w.write_bits(0b1111, 4)
                    w.write_bits(dod & ((1 << 64) - 1), 64)
            # value: XOR against the previous (xor.go xorWrite)
            delta = vbits ^ prev_v
            if delta == 0:
                w.write_bit(0)
            else:
                w.write_bit(1)
                new_leading = 64 - delta.bit_length()
                if new_leading >= 32:
                    new_leading = 31
                new_trailing = (delta & -delta).bit_length() - 1
                if (
                    leading != 0xFF
                    and new_leading >= leading
                    and new_trailing >= trailing
                ):
                    w.write_bit(0)
                    w.write_bits(delta >> trailing, 64 - leading - trailing)
                else:
                    leading, trailing = new_leading, new_trailing
                    w.write_bit(1)
                    w.write_bits(leading, 5)
                    sigbits = 64 - leading - trailing
                    w.write_bits(sigbits & 0x3F, 6)  # 64 encodes as 0
                    w.write_bits(delta >> trailing, sigbits)
        prev_t, prev_v = t, vbits
    return bytes(w.buf)


def decode_xor_chunk(data: bytes) -> list[Sample]:
    count = struct.unpack(">H", data[:2])[0]
    r = _BitReader(data, 16)
    out: list[Sample] = []
    t = tdelta = 0
    vbits = 0
    leading = trailing = 0
    for i in range(count):
        if i == 0:
            t = r.read_varint()
            vbits = r.read_bits(64)
        else:
            if i == 1:
                tdelta = r.read_uvarint()
            else:
                kind = 0
                while kind < 4 and r.read_bit():
                    kind += 1
                if kind > 0:
                    nbits = {1: 14, 2: 17, 3: 20, 4: 64}[kind]
                    dod = r.read_bits(nbits)
                    if dod > (1 << (nbits - 1)):  # two's complement
                        dod -= 1 << nbits
                    elif nbits == 64 and dod >= 1 << 63:
                        dod -= 1 << 64
                    tdelta += dod
            t += tdelta
            if r.read_bit():
                if r.read_bit():
                    leading = r.read_bits(5)
                    sigbits = r.read_bits(6) or 64
                    trailing = 64 - leading - sigbits
                sigbits = 64 - leading - trailing
                vbits ^= r.read_bits(sigbits) << trailing
        out.append(
            Sample(struct.unpack("<d", struct.pack("<Q", vbits))[0], t)
        )
    return out


# ----------------------------- streamed read framing (ChunkedReadResponse)
#
# prompb/remote.proto:
#   ChunkedReadResponse { repeated ChunkedSeries chunked_series = 1;
#                         int64 query_index = 2; }
#   ChunkedSeries { repeated Label labels = 1; repeated Chunk chunks = 2; }
#   Chunk { int64 min_time_ms = 1; int64 max_time_ms = 2;
#           Encoding type = 3 (XOR = 1); bytes data = 4; }
# Stream framing (upstream storage/remote chunked writer): per message,
# uvarint(len) + 4-byte big-endian CRC32-Castagnoli(data) + data; the
# stream itself is NOT snappy-compressed (XOR chunks already are).

XOR_ENCODING = 1

_CRC32C_POLY = 0x82F63B78
_CRC32C_TABLE: list[int] = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ _CRC32C_POLY if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


@dataclass
class ChunkedSeries:
    labels: dict[str, str] = field(default_factory=dict)
    #: (min_time_ms, max_time_ms, encoding, data)
    chunks: list[tuple[int, int, int, bytes]] = field(default_factory=list)


def encode_chunked_read_response(
    series: list[ChunkedSeries], query_index: int
) -> bytes:
    out = bytearray()
    for cs in series:
        body = bytearray()
        for name in cs.labels:
            body += _len_delim(1, encode_label(name, cs.labels[name]))
        for mn, mx, enc, data in cs.chunks:
            body += _len_delim(
                2,
                _varint_field(1, mn) + _varint_field(2, mx)
                + _varint_field(3, enc) + _len_delim(4, data),
            )
        out += _len_delim(1, bytes(body))
    out += _varint_field(2, query_index)
    return bytes(out)


def decode_chunked_read_response(
    buf: bytes,
) -> tuple[list[ChunkedSeries], int]:
    series: list[ChunkedSeries] = []
    query_index = 0
    for field_no, wire, v in iter_fields(buf):
        if field_no == 2 and wire == 0:
            query_index = _int64(v)
        elif field_no == 1 and wire == 2:
            cs = ChunkedSeries()
            for fn, w, cv in iter_fields(v):
                if fn == 1 and w == 2:
                    name = value = ""
                    for lfn, lw, lv in iter_fields(cv):
                        if lfn == 1 and lw == 2:
                            name = lv.decode()
                        elif lfn == 2 and lw == 2:
                            value = lv.decode()
                    cs.labels[name] = value
                elif fn == 2 and w == 2:
                    mn = mx = enc = 0
                    data = b""
                    for cfn, cw, ccv in iter_fields(cv):
                        if cfn == 1 and cw == 0:
                            mn = _int64(ccv)
                        elif cfn == 2 and cw == 0:
                            mx = _int64(ccv)
                        elif cfn == 3 and cw == 0:
                            enc = ccv
                        elif cfn == 4 and cw == 2:
                            data = ccv
                    cs.chunks.append((mn, mx, enc, data))
            series.append(cs)
    return series, query_index


def frame_chunked_message(data: bytes) -> bytes:
    """uvarint length + BE crc32c + data (upstream chunked stream unit)."""
    return write_uvarint(len(data)) + struct.pack(">I", crc32c(data)) + data


def iter_chunked_frames(stream: bytes):
    """Split a chunked read stream back into verified messages."""
    pos = 0
    while pos < len(stream):
        ln, pos = read_uvarint(stream, pos)
        crc = struct.unpack(">I", stream[pos:pos + 4])[0]
        pos += 4
        data = stream[pos:pos + ln]
        pos += ln
        if crc32c(data) != crc:
            raise ValueError("chunked frame CRC mismatch")
        yield data


# ----------------------------------------------- remote-write 2.0 (PRW2)
#
# The reference accepts both protocol versions (api/api.go:63-66,
# allowedProtoMsgs = [V1, V2]).  PRW2 (io.prometheus.write.v2.Request,
# published in prometheus/prompb/io/prometheus/write/v2/types.proto)
# string-interns every label name/value into a request-level symbol
# table; series carry packed uint32 reference pairs:
#
#   Request    { repeated string symbols = 4; repeated TimeSeries = 5; }
#   TimeSeries { repeated uint32 labels_refs = 1 (packed);
#                repeated Sample samples = 2; ... }
#
# symbols[0] MUST be the empty string per spec.


def encode_write_request_v2(series: list[TimeSeries]) -> bytes:
    symbols: list[str] = [""]
    index: dict[str, int] = {"": 0}

    def ref(s: str) -> int:
        if s not in index:
            index[s] = len(symbols)
            symbols.append(s)
        return index[s]

    ts_bodies = []
    for ts in series:
        refs = bytearray()
        for name in ts.labels:
            refs += write_uvarint(ref(name))
            refs += write_uvarint(ref(ts.labels[name]))
        body = _len_delim(1, bytes(refs))  # packed labels_refs
        for s in ts.samples:
            body += _len_delim(
                2, _double_field(1, s.value) + _varint_field(2, s.timestamp_ms)
            )
        ts_bodies.append(body)
    out = bytearray()
    for sym in symbols:
        out += _len_delim(4, sym.encode())
    for body in ts_bodies:
        out += _len_delim(5, body)
    return bytes(out)


def decode_write_request_v2(buf: bytes) -> list[TimeSeries]:
    symbols: list[str] = []
    ts_bufs: list[bytes] = []
    for field_no, wire, v in iter_fields(buf):
        if field_no == 4 and wire == 2:
            symbols.append(v.decode())
        elif field_no == 5 and wire == 2:
            ts_bufs.append(v)
    out = []
    for tb in ts_bufs:
        ts = TimeSeries()
        refs: list[int] = []
        for fn, w, v in iter_fields(tb):
            if fn == 1 and w == 2:  # packed labels_refs
                pos = 0
                while pos < len(v):
                    r, pos = read_uvarint(v, pos)
                    refs.append(r)
            elif fn == 1 and w == 0:  # unpacked encoder variant
                refs.append(v)
            elif fn == 2 and w == 2:
                val, tstamp = 0.0, 0
                for sfn, sw, sv in iter_fields(v):
                    if sfn == 1 and sw == 1:
                        val = struct.unpack("<d", sv)[0]
                    elif sfn == 2 and sw == 0:
                        tstamp = _int64(sv)
                ts.samples.append(Sample(val, tstamp))
            # io.prometheus.write.v2 TimeSeries remaining fields are
            # skipped: histograms (3) — native-histogram series are
            # DROPPED, not ingested (the reference rejects them too,
            # api/remotestorage/write.go:234-252) — exemplars (4),
            # metadata (5), created_timestamp (6)
        if len(refs) % 2:
            raise ValueError("odd labels_refs length")
        for i in range(0, len(refs), 2):
            if refs[i] >= len(symbols) or refs[i + 1] >= len(symbols):
                raise ValueError(
                    f"labels_ref {max(refs[i], refs[i + 1])} out of range "
                    f"for symbol table of {len(symbols)}"
                )
            ts.labels[symbols[refs[i]]] = symbols[refs[i + 1]]
        out.append(ts)
    return out


def decode_write_request_any(buf: bytes) -> list[TimeSeries]:
    """Version sniff for uncompressed WriteRequest bytes: PRW2 uses only
    fields 4/5 (1-3 reserved), V1 uses field 1 — disjoint tag sets, so
    the first field number decides (the HTTP layer prefers the explicit
    Content-Type ``proto=`` parameter when present)."""
    for field_no, _wire, _v in iter_fields(buf):
        return (
            decode_write_request_v2(buf)
            if field_no >= 4
            else decode_write_request(buf)
        )
    return []


# ---------------------------------------------------------------- snappy


def snappy_decompress(data: bytes) -> bytes:
    """Snappy block-format decompress; malformed input raises ValueError.

    pyarrow allocates the preamble's declared length up front, so a
    length above what the body can expand to is rejected first: the
    densest element, a 3-byte copy, yields 64 bytes.
    """
    try:
        size, pos = read_uvarint(data, 0)
    except IndexError as exc:
        raise ValueError("truncated snappy body") from exc
    if size > (len(data) - pos) * 64 // 3:
        raise ValueError(
            f"snappy length {size} exceeds what {len(data)} bytes can hold"
        )
    try:
        return pa.decompress(
            data, decompressed_size=size, codec="snappy", asbytes=True
        )
    except (OSError, pa.ArrowException) as exc:
        raise ValueError(f"corrupt snappy body: {exc}") from exc


def snappy_compress(data: bytes) -> bytes:
    """Snappy block-format compress."""
    return pa.compress(data, codec="snappy", asbytes=True)


# ------------------------------------------------------------ public API


def decode_remote_write_body(
    body: bytes, proto: str | None = None
) -> list[TimeSeries]:
    """Full remote-write decode: snappy body -> WriteRequest (V1 or
    PRW2). ``proto`` is the Content-Type ``proto=`` parameter when the
    caller has one; otherwise the tag sets disambiguate."""
    buf = snappy_decompress(body)
    if proto == "io.prometheus.write.v2.Request":
        return decode_write_request_v2(buf)
    if proto == "prometheus.WriteRequest":
        return decode_write_request(buf)
    return decode_write_request_any(buf)


def encode_remote_write_body(series: list[TimeSeries]) -> bytes:
    return snappy_compress(encode_write_request(series))


def encode_remote_write_body_v2(series: list[TimeSeries]) -> bytes:
    return snappy_compress(encode_write_request_v2(series))


def encode_remote_read_response_body(results: list[list[TimeSeries]]) -> bytes:
    return snappy_compress(encode_read_response(results))


# ----------------------------------------------------------- OTLP metrics
#
# The reference registers the Prometheus OTLP-write handler alongside
# remote write (api/api.go:157-195, both enabled). Decode the published
# opentelemetry-proto metrics subset (ExportMetricsServiceRequest) into
# the same TimeSeries model, applying the prometheus translation rules:
# data-point + resource attributes become labels (names sanitized to
# [a-zA-Z0-9_]), the metric name becomes __name__, and nanosecond
# timestamps become milliseconds. Gauge and Sum number points are
# supported — the monotonic-counter / gauge distinction does not change
# the stored samples. Histogram/summary/exponential points are skipped
# (the reference relies on the embedded translator for those; parity for
# the number path is what our ingest consumes).


_LABEL_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
)


def _sanitize_label(name: str) -> str:
    # ASCII [a-zA-Z0-9_] only — str.isalnum() would admit all Unicode
    # letters/digits, producing label names invalid under Prometheus
    # naming rules for non-ASCII OTLP attribute keys
    out = "".join(c if c in _LABEL_CHARS else "_" for c in name)
    return "_" + out if out and out[0].isdigit() else out


def _decode_any_value(buf: bytes) -> str:
    for fn, w, v in iter_fields(buf):
        if fn == 1 and w == 2:          # string_value
            return v.decode()
        if fn == 2 and w == 0:          # bool_value
            return "true" if v else "false"
        if fn == 3 and w == 0:          # int_value
            return str(_int64(v))
        if fn == 4 and w == 1:          # double_value
            return repr(struct.unpack("<d", v)[0])
    return ""


def _decode_attributes(bufs: list[bytes]) -> dict[str, str]:
    out = {}
    for kv in bufs:
        key, val = "", ""
        for fn, w, v in iter_fields(kv):
            if fn == 1 and w == 2:
                key = v.decode()
            elif fn == 2 and w == 2:
                val = _decode_any_value(v)
        if key:
            out[_sanitize_label(key)] = val
    return out


def _decode_number_point(buf: bytes) -> tuple[dict[str, str], int, float]:
    attrs_bufs: list[bytes] = []
    t_ns = 0
    value = 0.0
    for fn, w, v in iter_fields(buf):
        if fn == 7 and w == 2:          # attributes
            attrs_bufs.append(v)
        elif fn == 3 and w == 1:        # time_unix_nano (fixed64)
            t_ns = struct.unpack("<Q", v)[0]
        elif fn == 4 and w == 1:        # as_double
            value = struct.unpack("<d", v)[0]
        elif fn == 6 and w == 1:        # as_int (sfixed64)
            value = float(struct.unpack("<q", v)[0])
    return _decode_attributes(attrs_bufs), t_ns // 1_000_000, value


def decode_otlp_metrics(buf: bytes) -> list[TimeSeries]:
    """ExportMetricsServiceRequest -> TimeSeries list (gauge/sum points)."""
    series: dict[tuple, TimeSeries] = {}
    for fn, w, rm in iter_fields(buf):          # resource_metrics = 1
        if fn != 1 or w != 2:
            continue
        res_attrs: dict[str, str] = {}
        scope_bufs: list[bytes] = []
        for rfn, rw, rv in iter_fields(rm):
            if rfn == 1 and rw == 2:            # resource
                res_attrs = _decode_attributes([
                    av for afn, aw, av in iter_fields(rv)
                    if afn == 1 and aw == 2
                ])
            elif rfn == 2 and rw == 2:          # scope_metrics
                scope_bufs.append(rv)
        for sm in scope_bufs:
            for sfn, sw, metric in iter_fields(sm):
                if sfn != 2 or sw != 2:         # metrics = 2
                    continue
                name = ""
                point_bufs: list[bytes] = []
                for mfn, mw, mv in iter_fields(metric):
                    if mfn == 1 and mw == 2:    # name
                        name = mv.decode()
                    elif mfn in (5, 7) and mw == 2:  # gauge / sum
                        point_bufs += [
                            pv for pfn, pw, pv in iter_fields(mv)
                            if pfn == 1 and pw == 2
                        ]
                for pb in point_bufs:
                    attrs, ts_ms, value = _decode_number_point(pb)
                    labels = {
                        **res_attrs, **attrs,
                        "__name__": _sanitize_label(name),
                    }
                    key = tuple(sorted(labels.items()))
                    series.setdefault(key, TimeSeries(labels=labels)).samples.append(
                        Sample(value, ts_ms)
                    )
    return list(series.values())


def _kv(key: str, value: str) -> bytes:
    return _len_delim(1, key.encode()) + _len_delim(
        2, _len_delim(1, value.encode())
    )


def encode_otlp_metrics(
    series: list[TimeSeries], resource_attrs: dict[str, str] | None = None
) -> bytes:
    """Test-side encoder: each TimeSeries becomes one gauge metric whose
    data points carry the non-__name__ labels as attributes."""
    metrics = bytearray()
    for ts in series:
        points = bytearray()
        for s in ts.samples:
            body = bytearray()
            for k, v in ts.labels.items():
                if k != "__name__":
                    body += _len_delim(7, _kv(k, v))
            body += _tag(3, 1) + struct.pack("<Q", s.timestamp_ms * 1_000_000)
            body += _tag(4, 1) + struct.pack("<d", s.value)
            points += _len_delim(1, bytes(body))
        metric = _len_delim(1, ts.labels.get("__name__", "").encode())
        metric += _len_delim(5, bytes(points))   # gauge
        metrics += _len_delim(2, bytes(metric))
    scope_metrics = _len_delim(2, bytes(metrics))
    resource = bytearray()
    for k, v in (resource_attrs or {}).items():
        resource += _len_delim(1, _kv(k, v))
    rm = _len_delim(1, bytes(resource)) + scope_metrics
    return bytes(_len_delim(1, rm))
