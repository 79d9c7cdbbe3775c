#!/usr/bin/env python3
"""A FOREIGN Iceberg v2 reader: pure Python + DuckDB, sharing zero code
(and zero language) with the Scala engine. Resolves an exported table
purely from its Iceberg artifacts — version-hint.text → metadata.json →
manifest-list Avro → manifest Avro → parquet — including v2 equality
deletes (sequence-number rules) and identity-partition constants from
the manifest partition structs, then scans with DuckDB.

No Avro library exists in this environment, so the Avro object
container format is decoded here from first principles (null codec,
the primitives Iceberg manifests use: record/string/bytes/long/int/
boolean/union/array). This is the Trino role the reference stack
assigns to a separate engine: if this reader and the engine agree,
the export really is Iceberg, not a private format.

Usage:
  python3 tools/iceberg_reader.py <table_path> [--compare <parquet_glob>] \
      [--stats]
  python3 tools/iceberg_reader.py --rest <catalog_url> <ns> <table> \
      [--compare <parquet_glob>]

The --rest mode is the full Trino shape: the table is DISCOVERED over
the Iceberg REST catalog protocol (GET /v1/namespaces/{ns}/tables/{t},
LoadTableResult with the embedded metadata document) — the reader
knows a URL and a name, never a path.

Prints one JSON line: {"rows": N, "files": n, "deletes": m,
"hash": "<md5 of canonicalized rows>"} plus, with --compare,
"match": true|false against the expected parquet read the same way.

--stats decodes every live data entry's record count, file size, value
and null counts and lower/upper bounds (Iceberg's single-value
serialization, by the snapshot schema's column types) and checks each
against DuckDB's parquet_metadata() of the data file itself; it adds
"stats_ok": true|false, "stats_checked" (the number of values compared)
and, on a mismatch, "stats_errors".
"""
import datetime
import decimal
import os
import hashlib
import io
import json
import struct
import sys
import zlib


# ---------------------------------------------------------------- Avro

def _read_long(buf):
    """Zigzag varint (Avro int and long share the encoding)."""
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("varint past end")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _read_bytes(buf):
    return buf.read(_read_long(buf))


def _decode(schema, buf):
    """Decode one value of `schema` (parsed Avro JSON) from buf."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: zigzag branch index
        return _decode(schema[_read_long(buf)], buf)
    else:
        t = schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1)[0] != 0
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return _read_bytes(buf)
    if t == "string":
        return _read_bytes(buf).decode("utf-8")
    if t == "record":
        return {f["name"]: _decode(f["type"], buf)
                for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte size prefix
                _read_long(buf)
                n = -n
            for _ in range(n):
                out.append(_decode(schema["items"], buf))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                _read_long(buf)
                n = -n
            for _ in range(n):
                k = _read_bytes(buf).decode("utf-8")
                out[k] = _decode(schema["values"], buf)
    raise ValueError(f"unsupported Avro type: {t}")


def read_avro(raw):
    """Avro object container file → (records, file metadata)."""
    buf = io.BytesIO(raw)
    assert buf.read(4) == b"Obj\x01", "not an Avro object container"
    meta = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:
            _read_long(buf)
            n = -n
        for _ in range(n):
            k = _read_bytes(buf).decode("utf-8")
            meta[k] = _read_bytes(buf)
    codec = meta.get("avro.codec", b"null").decode()
    assert codec == "null", f"unsupported codec {codec}"
    schema = json.loads(meta["avro.schema"])
    sync = buf.read(16)
    records = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, 1)
        count = _read_long(buf)
        _read_long(buf)  # block byte size
        for _ in range(count):
            records.append(_decode(schema, buf))
        assert buf.read(16) == sync, "sync marker mismatch"
    return records, meta


# -------------------------------------------- Puffin deletion vectors
#
# Iceberg v3 stores position deletes as `deletion-vector-v1` blobs in
# Puffin files: 4-byte BE combined length, magic D1 D3 39 64, a
# portable 64-bit Roaring bitmap, 4-byte BE CRC-32 of magic+vector.
# The portable 64-bit form is an 8-byte LE bucket count, then per
# bucket a 4-byte LE high key + one standard 32-bit Roaring bitmap
# (cookie 12346/12347; array, bitmap and run containers all legal).

def _roaring32(buf):
    cookie = struct.unpack("<I", buf.read(4))[0]
    if (cookie & 0xFFFF) == 12347:       # SERIAL_COOKIE: runs possible
        n = (cookie >> 16) + 1
        runflags = buf.read((n + 7) // 8)
        has_offsets = n >= 4
    else:
        assert cookie == 12346, f"bad roaring cookie {cookie}"
        n = struct.unpack("<I", buf.read(4))[0]
        runflags = b"\x00" * ((n + 7) // 8)
        has_offsets = True
    keys_cards = [struct.unpack("<HH", buf.read(4)) for _ in range(n)]
    if has_offsets:
        buf.read(4 * n)                  # sequential read: offsets unused
    vals = []
    for i, (key, cm1) in enumerate(keys_cards):
        card = cm1 + 1
        base = key << 16
        if (runflags[i // 8] >> (i % 8)) & 1:
            (nruns,) = struct.unpack("<H", buf.read(2))
            for _ in range(nruns):
                start, ln = struct.unpack("<HH", buf.read(4))
                vals.extend(range(base + start, base + start + ln + 1))
        elif card <= 4096:
            vals.extend(base + v for v in
                        struct.unpack(f"<{card}H", buf.read(2 * card)))
        else:
            words = struct.unpack("<1024Q", buf.read(8192))
            for wi, w in enumerate(words):
                while w:
                    low = w & -w
                    vals.append(base + wi * 64 + low.bit_length() - 1)
                    w ^= low
    return vals


def _dv_positions(puffin_path, offset, length):
    """Decode one deletion-vector blob → sorted row positions."""
    with open(puffin_path, "rb") as f:
        f.seek(offset)
        blob = f.read(length)
    (combined,) = struct.unpack(">I", blob[:4])
    assert blob[4:8] == b"\xd1\xd3\x39\x64", "bad DV magic"
    vector = blob[8:4 + combined]
    (crc,) = struct.unpack(">I", blob[4 + combined:8 + combined])
    assert zlib.crc32(blob[4:4 + combined]) & 0xFFFFFFFF == crc, \
        "DV blob CRC-32 mismatch"
    buf = io.BytesIO(vector)
    (nbuckets,) = struct.unpack("<Q", buf.read(8))
    out = []
    for _ in range(nbuckets):
        (high,) = struct.unpack("<I", buf.read(4))
        base = high << 32
        out.extend(base + v for v in _roaring32(buf))
    return out


# ------------------------------------------------------------- Iceberg

def _read_file(path):
    with open(path, "rb") as f:
        return f.read()


def load_metadata_file(table_path):
    """File-based resolution: version-hint → current metadata.json."""
    mdir = f"{table_path}/metadata"
    version = int(_read_file(f"{mdir}/version-hint.text").decode().strip())
    return json.loads(_read_file(f"{mdir}/v{version:05d}.metadata.json"))


def load_metadata_rest(url, ns, table):
    """REST-catalog resolution: LoadTableResult's embedded metadata."""
    import urllib.request
    from urllib.parse import quote
    req = f"{url}/v1/namespaces/{quote(ns)}/tables/{quote(table)}"
    with urllib.request.urlopen(req, timeout=30) as resp:
        body = json.loads(resp.read().decode("utf-8"))
    return body["metadata"]


def resolve(md):
    """Parsed table metadata → scan plan. Returns (schema_cols:
    [(name, iceberg_type)], data: [(path, seq, {part_col: const})],
    deletes: [(path, seq, [eq col names])],
    pos_deletes: [(path, seq)],
    dv_rows: [(referenced_path, pos, seq)], n_dv_files).

    v2 delete content codes (data_file.content): 1 = POSITION deletes
    (rows of file_path/pos pairs), 2 = EQUALITY deletes. The graft
    exporter writes equality deletes only, but a v2 table written by
    another engine (Spark/Iceberg MoR DELETE) carries position deletes
    — the foreign role must resolve both. A v3 writer stores position
    deletes as Puffin DELETION VECTORS instead (content 1,
    file_format PUFFIN, referenced_data_file/content_offset/
    content_size_in_bytes) — decoded here to explicit positions.
    """
    current = md["current-snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == current)
    schema = next(s for s in md["schemas"]
                  if s["schema-id"] == snap["schema-id"])
    cols = [(f["name"], f["type"]) for f in schema["fields"]]
    id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
    # partition field names are resolved per manifest via its
    # partition-spec-id (falling back to the table's default-spec-id) —
    # a table whose spec evolved has manifests pointing at DIFFERENT
    # specs, and spec [0] is merely the oldest
    specs_by_id = {s["spec-id"]: [f["name"] for f in s.get("fields", [])]
                   for s in md.get("partition-specs", [])}
    default_spec = specs_by_id.get(md.get("default-spec-id", 0), [])

    mf_list, _ = read_avro(_read_file(snap["manifest-list"]))
    data, deletes, pos_deletes = [], [], []
    dv_rows, n_dv = [], 0
    for mf in mf_list:
        spec_fields = specs_by_id.get(mf.get("partition_spec_id"),
                                      default_spec)
        mf_seq = mf.get("sequence_number") or 0
        entries, _ = read_avro(_read_file(mf["manifest_path"]))
        for e in entries:
            if e["status"] == 2:  # DELETED — left the table
                continue
            df = e["data_file"]
            # v2 sequence-number inheritance: real Iceberg writers
            # leave the entry's sequence_number NULL on ADDED entries;
            # the manifest list's sequence_number is the value. The
            # spec scopes inheritance to ADDED — an EXISTING entry's
            # sequence predates this manifest, so a null there is
            # corrupt metadata, not an inheritable default
            seq = e.get("sequence_number")
            if seq is None:
                if e["status"] != 1:
                    raise ValueError(
                        f"{mf['manifest_path']}: EXISTING entry with "
                        "null sequence_number (v2 inheritance applies "
                        "to ADDED only)")
                seq = mf_seq
            if mf["content"] == 0:
                part = {k: v for k, v in (df.get("partition") or {}).items()
                        if k in spec_fields}
                data.append((df["file_path"], seq, part))
            elif df.get("content") == 1:
                is_dv = ((df.get("file_format") or "").upper() == "PUFFIN"
                         or df.get("referenced_data_file") is not None)
                if is_dv:
                    ref = df["referenced_data_file"]
                    assert ref is not None, \
                        "puffin DV entry lacks referenced_data_file"
                    n_dv += 1
                    for pos in _dv_positions(df["file_path"],
                                             df["content_offset"],
                                             df["content_size_in_bytes"]):
                        dv_rows.append((ref, pos, seq))
                else:
                    pos_deletes.append((df["file_path"], seq))
            else:
                eq = [id_to_name[i] for i in (df.get("equality_ids") or [])]
                deletes.append((df["file_path"], seq, eq))
    return cols, data, deletes, pos_deletes, dv_rows, n_dv


def scan(md):
    """Resolve + scan with DuckDB. Returns (duckdb connection holding
    view `resolved`, n_data_files, n_delete_files, columns)."""
    import duckdb
    cols, data, deletes, pos_deletes, dv_rows, n_dv = resolve(md)
    names = [c for c, _ in cols]
    con = duckdb.connect()
    any_pos = bool(pos_deletes) or bool(dv_rows)

    def one_file(path, seq, part):
        # the declared schema drives projection: physical extras (a
        # merge-on-read __seq) are never read; partition columns come
        # back as constants from the manifest struct
        sel = []
        for c in names:
            if c in part:
                v = part[c]
                lit = "NULL" if v is None else (
                    f"'{v}'" if isinstance(v, str) else repr(v))
                sel.append(f"{lit} AS \"{c}\"")
            else:
                sel.append(f"\"{c}\"")
        # position deletes address (file path, ordinal row position):
        # surface both only when the snapshot carries any — DuckDB's
        # file_row_number IS the v2 `pos` ordinal
        if any_pos:
            sel.append(f"'{path}' AS __fpath")
            sel.append("CAST(file_row_number AS BIGINT) AS __fpos")
            src = f"read_parquet('{path}', file_row_number=true)"
        else:
            src = f"read_parquet('{path}')"
        return (f"SELECT {', '.join(sel)}, CAST({seq} AS BIGINT) AS __fseq "
                f"FROM {src}")

    if data:
        data_sql = " UNION ALL ".join(one_file(p, s, pt)
                                      for p, s, pt in data)
    else:
        # a snapshot with zero live data files (freshly truncated /
        # delete-everything) must scan as an EMPTY relation, not an
        # invalid zero-branch UNION
        empty = ", ".join(f"NULL AS \"{c}\"" for c in names)
        data_sql = (f"SELECT {empty}, CAST(0 AS BIGINT) AS __fseq "
                    "WHERE FALSE")
    con.execute(f"CREATE VIEW data AS {data_sql}")

    # v2 equality deletes: a delete at sequence s erases matching rows
    # in data files with sequence < s (last-write-wins)
    survivors = "SELECT * FROM data"
    groups = {}
    for p, s, eq in deletes:
        groups.setdefault(tuple(eq), []).append((p, s))
    for gi, (eq, files) in enumerate(groups.items()):
        eq_proj = ", ".join(f"\"{c}\"" for c in eq)
        del_sql = " UNION ALL ".join(
            f"SELECT {eq_proj}, "
            f"CAST({s} AS BIGINT) AS __dseq FROM read_parquet('{p}')"
            for p, s in files)
        con.execute(f"CREATE VIEW del{gi} AS {del_sql}")
        cond = " AND ".join(f"d.\"{c}\" = t.\"{c}\"" for c in eq)
        survivors = (f"SELECT * FROM ({survivors}) t WHERE NOT EXISTS ("
                     f"SELECT 1 FROM del{gi} d WHERE {cond} "
                     f"AND d.__dseq > t.__fseq)")
    # v2 position deletes: (file_path, pos) at sequence s erases the
    # pos-th row of the named file when the file's data sequence is AT
    # OR BELOW s (same-commit deletes apply: `>=`, unlike equality's
    # strict `>`). Paths normalize only the local-file scheme — remote
    # schemes must match verbatim.
    if any_pos:
        parts = [
            f"SELECT file_path, pos, CAST({s} AS BIGINT) AS __dseq "
            f"FROM read_parquet('{p}')" for p, s in pos_deletes]
        if dv_rows:
            # v3 deletion vectors, already decoded to explicit
            # (referenced file, position, sequence) rows — they apply
            # under the SAME >= rule as v2 position-delete files
            con.execute("CREATE TABLE dvpos "
                        "(file_path VARCHAR, pos BIGINT, __dseq BIGINT)")
            con.executemany("INSERT INTO dvpos VALUES (?, ?, ?)", dv_rows)
            parts.append("SELECT file_path, pos, __dseq FROM dvpos")
        con.execute("CREATE VIEW posdel AS " + " UNION ALL ".join(parts))
        norm = "regexp_replace({}, '^file:/+', '/')"
        survivors = (f"SELECT * FROM ({survivors}) t WHERE NOT EXISTS ("
                     f"SELECT 1 FROM posdel d WHERE "
                     f"{norm.format('d.file_path')} = "
                     f"{norm.format('t.__fpath')} "
                     f"AND d.pos = t.__fpos AND d.__dseq >= t.__fseq)")
    proj = ", ".join(f"\"{c}\"" for c in names)
    con.execute(f"CREATE VIEW resolved AS SELECT {proj} "
                f"FROM ({survivors})")
    return con, len(data), len(deletes) + len(pos_deletes) + n_dv, names


# ------------------------------------------------- manifest statistics

_EPOCH = datetime.date(1970, 1, 1)


def _bound(raw, typ):
    """Iceberg single-value binary → a comparable Python value; None for
    a type this check does not decode."""
    if typ in ("int", "date"):
        return struct.unpack("<i", raw)[0]
    if typ == "long":
        return struct.unpack("<q", raw)[0]
    if typ == "float":
        return struct.unpack("<f", raw)[0]
    if typ == "double":
        return struct.unpack("<d", raw)[0]
    if typ == "string":
        return raw.decode("utf-8")
    if typ.startswith("decimal("):  # unscaled, big-endian two's complement
        return int.from_bytes(raw, "big", signed=True)
    return None


def _footer_value(text, typ):
    """DuckDB's rendering of a parquet min/max → the same domain as
    _bound (code-point order of str is UTF-8 byte order)."""
    if typ in ("int", "long"):
        return int(text)
    if typ == "date":
        return (datetime.date.fromisoformat(text) - _EPOCH).days
    if typ == "float":  # the nearest float32, as the bound stores it
        return struct.unpack("<f", struct.pack("<f", float(text)))[0]
    if typ == "double":
        return float(text)
    if typ == "string":
        return text
    if typ.startswith("decimal("):
        scale = int(typ[len("decimal("):-1].split(",")[1])
        return int(decimal.Decimal(text).scaleb(scale))
    return None


def check_stats(md):
    """Compare every live data entry of the current snapshot with the
    parquet metadata of its file. Returns (values compared, errors)."""
    import duckdb
    current = md["current-snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == current)
    schema = next(s for s in md["schemas"]
                  if s["schema-id"] == snap["schema-id"])
    types = {f["id"]: (f["name"], f["type"]) for f in schema["fields"]
             if isinstance(f["type"], str)}
    con = duckdb.connect()
    checked, errors = 0, []

    def expect(what, got, want):
        nonlocal checked
        checked += 1
        if got != want:
            errors.append(f"{what}: manifest {got!r}, parquet {want!r}")

    mf_list, _ = read_avro(_read_file(snap["manifest-list"]))
    for mf in mf_list:
        if mf["content"] != 0:
            continue
        entries, _ = read_avro(_read_file(mf["manifest_path"]))
        for e in entries:
            if e["status"] == 2:
                continue
            df = e["data_file"]
            path = df["file_path"]
            rows = con.execute(
                "SELECT num_rows FROM parquet_file_metadata(?)",
                [path]).fetchone()[0]
            expect(f"{path} record_count", df["record_count"], rows)
            expect(f"{path} file_size_in_bytes", df["file_size_in_bytes"],
                   os.path.getsize(path))
            chunks = {}
            for name, nv, nulls, lo, hi in con.execute(
                    "SELECT path_in_schema, num_values, stats_null_count, "
                    "stats_min_value, stats_max_value "
                    "FROM parquet_metadata(?)", [path]).fetchall():
                chunks.setdefault(name, []).append((nv, nulls, lo, hi))
            stats = {k: {kv["key"]: kv["value"] for kv in (df.get(k) or [])}
                     for k in ("value_counts", "null_value_counts",
                               "lower_bounds", "upper_bounds")}
            for fid, (name, typ) in types.items():
                cs = chunks.get(name)
                if cs is None:  # column absent from this file
                    continue
                what = f"{path} {name}"
                if all(c[1] is not None for c in cs):
                    expect(f"{what} value_count",
                           stats["value_counts"].get(fid),
                           sum(c[0] for c in cs))
                    expect(f"{what} null_value_count",
                           stats["null_value_counts"].get(fid),
                           sum(c[1] for c in cs))
                for key, pick, col in (("lower_bounds", min, 2),
                                       ("upper_bounds", max, 3)):
                    raw = stats[key].get(fid)
                    if raw is None or _bound(raw, typ) is None:
                        continue  # omission is spec-legal
                    # an all-null row group has no min/max to hold
                    vals = [c[col] for c in cs if c[1] is None or c[1] < c[0]]
                    want = (None if not vals or None in vals else
                            pick(_footer_value(v, typ) for v in vals))
                    expect(f"{what} {key}", _bound(raw, typ), want)
    return checked, errors


def canonical_hash(con, relation, names):
    """md5 over rows canonicalized engine-independently: columns sorted
    by name, rows sorted, every value rendered by DuckDB as VARCHAR."""
    ordered = sorted(names)
    casts = ", ".join(
        f"COALESCE(CAST(\"{c}\" AS VARCHAR), '\\N')" for c in ordered)
    rows = con.execute(
        f"SELECT concat_ws('|', {casts}) FROM {relation}").fetchall()
    h = hashlib.md5()
    for (line,) in sorted(rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    compare = None
    if "--compare" in sys.argv:
        compare = sys.argv[sys.argv.index("--compare") + 1]
    if sys.argv[1] == "--rest":
        md = load_metadata_rest(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        md = load_metadata_file(sys.argv[1])
    if "--ref" in sys.argv:
        # named-ref read (Iceberg `refs`): graft snapshot tags export as
        # tags here, so the SAME pinned state graft serves via
        # VERSION AS OF 'name' resolves from plain metadata — loud on
        # unknown names, listing what exists
        ref = sys.argv[sys.argv.index("--ref") + 1]
        refs = md.get("refs") or {}
        if ref not in refs:
            print(json.dumps({"error": f"unknown ref '{ref}'",
                              "refs": sorted(refs)}))
            sys.exit(2)
        md = dict(md)
        md["current-snapshot-id"] = refs[ref]["snapshot-id"]
    con, nfiles, ndeletes, names = scan(md)
    nrows = con.execute("SELECT COUNT(*) FROM resolved").fetchone()[0]
    out = {"rows": nrows, "files": nfiles, "deletes": ndeletes,
           "hash": canonical_hash(con, "resolved", names)}
    if compare is not None:
        proj = ", ".join(f"\"{c}\"" for c in names)
        con.execute(f"CREATE VIEW expected AS SELECT {proj} "
                    f"FROM read_parquet('{compare}')")
        out["expected_rows"] = con.execute(
            "SELECT COUNT(*) FROM expected").fetchone()[0]
        out["match"] = (out["hash"] ==
                        canonical_hash(con, "expected", names))
    if "--stats" in sys.argv:
        checked, errors = check_stats(md)
        out["stats_checked"] = checked
        out["stats_ok"] = checked > 0 and not errors
        if errors:
            out["stats_errors"] = errors[:10]
    print(json.dumps(out))
    sys.exit(0 if out.get("match", True) and out.get("stats_ok", True)
             else 1)


if __name__ == "__main__":
    main()
