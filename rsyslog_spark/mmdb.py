"""MaxMind DB (MMDB) reader + tiny writer, pure Python.

Implements the PUBLIC MaxMind DB File Format 2.0 spec (binary search
tree of ``node_count`` nodes with 24/28/32-bit records, a 16-byte zero
separator, the typed data section, and the metadata map after the
``\\xab\\xcd\\xefMaxMind.com`` marker) — no libmaxminddb. Powers
``mods.mm_dblookup`` (plugins/mmdblookup/mmdblookup.c): the reference
links the MaxMind C library; this engine re-derives the format from
the spec so the module works in-sandbox and, more importantly, so the
database can be ENUMERATED into sorted network intervals — the shape a
Spark lookup actually wants (broadcast two int arrays + binary search
per batch instead of a per-row pointer walk).

The writer emits the same minimal shape as the reference's checked-in
fixture (tests/test.mmdb: record_size 24, ip_version 4, no pointers) —
used to build deterministic fixtures for tests and driver facets.
"""

from __future__ import annotations

import ipaddress
import struct

# data-section type codes (spec §"Output Data Section")
_T_PTR = 1
_T_STR = 2
_T_DOUBLE = 3
_T_BYTES = 4
_T_U16 = 5
_T_U32 = 6
_T_MAP = 7
# extended (type byte 0): 7 + next byte
_T_I32 = 8
_T_U64 = 9
_T_U128 = 10
_T_ARRAY = 11
_T_BOOL = 14
_T_FLOAT = 15

_METADATA_MARKER = b"\xab\xcd\xefMaxMind.com"


class MMDBReader:
    def __init__(self, data: bytes):
        self.buf = data
        at = data.rfind(_METADATA_MARKER)
        if at < 0:
            raise ValueError("mmdb: metadata marker not found")
        self.data_at = 0  # pointers cannot occur before this is set
        meta, _ = self._decode(data, at + len(_METADATA_MARKER))
        self.metadata = meta
        self.node_count = meta["node_count"]
        self.record_size = meta["record_size"]
        self.ip_version = meta.get("ip_version", 6)
        if self.record_size not in (24, 28, 32):
            raise ValueError(
                f"mmdb: unsupported record size {self.record_size}"
            )
        self.tree_size = (self.record_size * 2 // 8) * self.node_count
        self.data_at = self.tree_size + 16  # 16-byte zero separator

    @classmethod
    def open(cls, path: str) -> "MMDBReader":
        with open(path, "rb") as fh:
            return cls(fh.read())

    # -- data section decoding ------------------------------------------
    def _decode(self, b: bytes, p: int):
        ctrl = b[p]
        p += 1
        typ = ctrl >> 5
        size = ctrl & 0x1F
        if typ == 0:  # extended
            typ = 7 + b[p]
            p += 1
        if typ == _T_PTR:
            psz = (size >> 3) & 0x3
            val = size & 0x7
            if psz == 0:
                val = (val << 8) | b[p]
                p += 1
            elif psz == 1:
                val = ((val << 16) | (b[p] << 8) | b[p + 1]) + 2048
                p += 2
            elif psz == 2:
                val = (
                    (val << 24) | (b[p] << 16) | (b[p + 1] << 8)
                    | b[p + 2]
                ) + 526336
                p += 3
            else:
                val = int.from_bytes(b[p:p + 4], "big")
                p += 4
            v, _ = self._decode(b, self.data_at + val)
            return v, p
        if size == 29:
            size = 29 + b[p]
            p += 1
        elif size == 30:
            size = 285 + int.from_bytes(b[p:p + 2], "big")
            p += 2
        elif size == 31:
            size = 65821 + int.from_bytes(b[p:p + 3], "big")
            p += 3
        if typ == _T_STR:
            return b[p:p + size].decode("utf-8", "replace"), p + size
        if typ == _T_BYTES:
            return b[p:p + size], p + size
        if typ in (_T_U16, _T_U32, _T_U64, _T_U128):
            return int.from_bytes(b[p:p + size], "big"), p + size
        if typ == _T_I32:
            # libmaxminddb's (int32_t) cast of the uint: only a 4-byte
            # field can be negative; shorter fields are always positive
            v = int.from_bytes(b[p:p + size], "big")
            if v >= 1 << 31:
                v -= 1 << 32
            return v, p + size
        if typ == _T_DOUBLE:
            return struct.unpack(">d", b[p:p + 8])[0], p + 8
        if typ == _T_FLOAT:
            return struct.unpack(">f", b[p:p + 4])[0], p + 4
        if typ == _T_BOOL:
            return size != 0, p  # payload in the size field
        if typ == _T_MAP:
            out = {}
            for _ in range(size):
                k, p = self._decode(b, p)
                v, p = self._decode(b, p)
                out[k] = v
            return out, p
        if typ == _T_ARRAY:
            arr = []
            for _ in range(size):
                v, p = self._decode(b, p)
                arr.append(v)
            return arr, p
        raise ValueError(f"mmdb: unsupported data type {typ}")

    # -- tree ------------------------------------------------------------
    def _record(self, node: int, side: int) -> int:
        b = self.buf
        if self.record_size == 24:
            at = node * 6 + side * 3
            return int.from_bytes(b[at:at + 3], "big")
        if self.record_size == 28:
            at = node * 7
            mid = b[at + 3]
            if side == 0:
                return ((mid >> 4) << 24) | int.from_bytes(
                    b[at:at + 3], "big"
                )
            return ((mid & 0xF) << 24) | int.from_bytes(
                b[at + 4:at + 7], "big"
            )
        at = node * 8 + side * 4
        return int.from_bytes(b[at:at + 4], "big")

    def _data_at_ptr(self, rec: int):
        v, _ = self._decode(
            self.buf, self.data_at + rec - self.node_count - 16
        )
        return v

    def lookup(self, ip: str):
        """MMDB_lookup_string analog: the record dict for the address,
        or None (not found / address family mismatch). Raises
        ValueError for an unparsable address (the gai error path)."""
        addr = ipaddress.ip_address(ip)
        if addr.version == 6 and self.ip_version == 4:
            return None
        bits = int(addr)
        nbits = 32 if addr.version == 4 else 128
        node = 0
        if addr.version == 4 and self.ip_version == 6:
            # v4 lives under ::/96 in a v6 tree
            for _ in range(96):
                node = self._record(node, 0)
                if node == self.node_count:
                    return None
                if node > self.node_count:
                    # a record covering the v4 space, e.g. ::/8
                    return self._data_at_ptr(node)
        for i in range(nbits - 1, -1, -1):
            node = self._record(node, (bits >> i) & 1)
            if node == self.node_count:
                return None
            if node > self.node_count:
                return self._data_at_ptr(node)
        return None

    def networks(self):
        """Enumerate the tree into sorted (start_int, end_int, record)
        intervals — the broadcast-join shape for Spark lookups."""
        nbits = 32 if self.ip_version == 4 else 128
        out = []

        def walk(node: int, prefix: int, depth: int):
            if depth > nbits:
                return
            for side in (0, 1):
                rec = self._record(node, side)
                pfx = (prefix << 1) | side
                if rec < self.node_count:
                    walk(rec, pfx, depth + 1)
                elif rec > self.node_count:
                    start = pfx << (nbits - depth)
                    end = start + (1 << (nbits - depth)) - 1
                    out.append((start, end, self._data_at_ptr(rec)))

        walk(0, 0, 1)
        out.sort(key=lambda t: t[0])
        return out


# -------------------------------------------------------------------------
# tiny writer (fixture shape: no pointers, record_size 24)
# -------------------------------------------------------------------------


def _enc_str(s: str) -> bytes:
    b = s.encode()
    assert len(b) < 29
    return bytes([(2 << 5) | len(b)]) + b


def _enc_uint(v: int) -> bytes:
    body = b"" if v == 0 else v.to_bytes((v.bit_length() + 7) // 8, "big")
    return bytes([(6 << 5) | len(body)]) + body


def _enc_value(v) -> bytes:
    if isinstance(v, bool):
        # extended type; the payload rides in the size field
        return bytes([(0 << 5) | (1 if v else 0), _T_BOOL - 7])
    if isinstance(v, str):
        return _enc_str(v)
    if isinstance(v, int):
        return _enc_uint(v)
    if isinstance(v, float):
        return bytes([(3 << 5) | 8]) + struct.pack(">d", v)
    if isinstance(v, dict):
        return _enc_map(v)
    if isinstance(v, list):
        out = bytes([(0 << 5) | len(v), _T_ARRAY - 7])
        for x in v:
            out += _enc_value(x)
        return out
    raise TypeError(f"mmdb writer: unsupported value {v!r}")


def _enc_map(d: dict) -> bytes:
    assert len(d) < 29
    out = bytes([(7 << 5) | len(d)])
    for k, v in d.items():
        out += _enc_str(k) + _enc_value(v)
    return out


def write_mmdb(
    path: str,
    networks: dict[str, dict],
    ip_version: int = 4,
    database_type: str = "rsyslog-spark-test",
) -> None:
    """Write a minimal spec-conformant MMDB: ``networks`` maps CIDR
    strings to record dicts. Same shape as the reference fixture
    (record_size 24, depth-exact tree, records inline, no pointers).
    Nested networks may come in any order: the more specific one wins
    inside it, and the enclosing record covers the rest."""
    nbits = 32 if ip_version == 4 else 128
    # data section: one encoded record per unique network
    data = b""
    offsets = {}
    items = []
    for cidr, rec in networks.items():
        net = ipaddress.ip_network(cidr)
        offsets[cidr] = len(data)
        data += _enc_map(rec)
        items.append((int(net.network_address), net.prefixlen, cidr))

    # build the trie
    nodes = [[None, None]]  # record: None = empty

    def insert(prefix_bits: int, plen: int, cidr: str):
        node = 0
        for i in range(plen):
            bit = (prefix_bits >> (nbits - 1 - i)) & 1
            if i == plen - 1:
                nodes[node][bit] = ("data", cidr)
            else:
                nxt = nodes[node][bit]
                if not (isinstance(nxt, tuple) and nxt[0] == "node"):
                    # an enclosing record (or nothing) moves down into
                    # both children of the new node
                    nodes.append([nxt, nxt])
                    nxt = ("node", len(nodes) - 1)
                    nodes[node][bit] = nxt
                node = nxt[1]

    # shortest prefix first: a nested network always lands below the
    # record that encloses it
    for start, plen, cidr in sorted(items, key=lambda t: t[1]):
        insert(start, plen, cidr)

    node_count = len(nodes)
    tree = b""
    for left, right in nodes:
        for rec in (left, right):
            if rec is None:
                val = node_count
            elif rec[0] == "node":
                val = rec[1]
            else:
                val = node_count + 16 + offsets[rec[1]]
            tree += val.to_bytes(3, "big")

    meta = {
        "binary_format_major_version": 2,
        "binary_format_minor_version": 0,
        "build_epoch": 0,
        "database_type": database_type,
        "description": {"en": "rsyslog_spark test fixture"},
        "ip_version": ip_version,
        "languages": ["en"],
        "node_count": node_count,
        "record_size": 24,
    }
    with open(path, "wb") as fh:
        fh.write(tree + b"\x00" * 16 + data)
        fh.write(_METADATA_MARKER + _enc_map(meta))
