"""Seeded input generators for the perfbench workloads.

Everything here is stdlib (plus pyarrow for the table layout): no
encoder or private name from ``meza_spark`` is used, so the inputs do
not move when the package's internals do. The same seed gives
byte-identical files; each generator also writes ``truth.json``, the
ground truth the verification pass checks the program's outputs
against.

Output is cached under ``<root>/.perfbench_cache/<workload>/``, keyed by
seed and by a hash of what the inputs are built from, and built by ``run.py`` before the measured process starts, so neither
``setup_s`` nor ``driver_rss_mb`` pays for generation.
"""

from __future__ import annotations

import csv
import datetime as dt
import gzip
import hashlib
import io
import json
import os
import random
import shutil
import sqlite3
import struct
import tarfile
import zipfile
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "settings.json")) as _f:
    SETTINGS = json.load(_f)

COLUMNS = ["id", "name", "amount", "when", "active", "qty", "category"]
TYPES = {"id": "int", "name": "text", "amount": "float", "when": "date",
         "active": "bool", "qty": "int", "category": "text"}
CATEGORIES = ["alpha", "beta", "gamma", "delta", "epsilon"]
NAMES_UNICODE = ["José", "Zoë", "Łukasz", "Ōtani", "Søren", "Ana", "Chloé",
                 "Dmitrij", "Émile", "François", "Jürgen", "Nuñez", "北京",
                 "Ιωάννα", "Müller", "Örjan"]
NAMES_LATIN1 = ["José", "Zoë", "Søren", "Ana", "Chloé", "Émile", "François",
                "Jürgen", "Nuñez", "Müller", "Örjan", "Ilse"]
TRUE_WORDS = ["yes", "Y", "true", "T", "YES", "True"]
FALSE_WORDS = ["no", "N", "false", "F", "NO", "False"]
NULL_WORDS = ["n/a", "N/A", "NULL", "na", "none"]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]


# ---------------------------------------------------------------- etl_files


def _etl_rows(rng: random.Random, n: int, names: list[str], start_id: int):
    """Typed truth rows plus their messy string renderings."""
    null_rate = SETTINGS["workloads"]["etl_files"]["null_rate"]
    truth, messy = [], []
    for i in range(n):
        rid = start_id + i
        cents = rng.randrange(1, 2_000_000)
        amount = cents / 100
        day = dt.date(2015, 1, 1) + dt.timedelta(days=rng.randrange(3650))
        active = rng.random() < 0.5
        qty = None if rng.random() < null_rate else rng.randrange(0, 500)
        cat = rng.choice(CATEGORIES)
        name = rng.choice(names)
        # '€' has no latin-1 code point: latin-1 files use the first three
        style = rng.randrange(3 if names is NAMES_LATIN1 else 4)
        amount_s = (f"${amount:,.2f}", f"{amount:.2f}", f"£{amount:,.2f}",
                    f"€{amount:.2f}")[style]
        date_s = (day.isoformat(), f"{day.month:02d}/{day.day:02d}/{day.year}",
                  day.strftime("%d-%b-%Y"),
                  f"{MONTHS[day.month - 1]} {day.day}, {day.year}")[
                      rng.randrange(4)]
        bool_s = rng.choice(TRUE_WORDS if active else FALSE_WORDS)
        qty_s = rng.choice(NULL_WORDS) if qty is None else str(qty)
        truth.append({"id": rid, "name": name, "amount": amount,
                      "when": day.isoformat(), "active": active, "qty": qty,
                      "category": cat})
        messy.append([str(rid), name, amount_s, date_s, bool_s, qty_s, cat])
    return truth, messy


def _write_csv(path, rows, encoding):
    with open(path, "w", encoding=encoding, newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(COLUMNS)
        w.writerows(rows)


def _write_small(fmt: str, path_stem: str, messy: list[list[str]]) -> str:
    if fmt in ("csv_utf8sig", "csv_latin1"):
        path = path_stem + ".csv"
        _write_csv(path, messy, {"csv_utf8sig": "utf-8-sig",
                                 "csv_latin1": "latin-1"}[fmt])
    elif fmt == "xml":
        from xml.sax.saxutils import escape

        path = path_stem + ".xml"
        with open(path, "w", encoding="utf-8") as f:
            f.write('<?xml version="1.0" encoding="utf-8"?>\n<records>\n')
            for r in messy:
                f.write("<record>" + "".join(
                    f"<{k}>{escape(v)}</{k}>" for k, v in zip(COLUMNS, r))
                    + "</record>\n")
            f.write("</records>\n")
    elif fmt == "sqlite":
        path = path_stem + ".sqlite"
        con = sqlite3.connect(path)
        try:
            con.execute("CREATE TABLE data (id INTEGER, name TEXT, amount "
                        "TEXT, \"when\" TEXT, active TEXT, qty TEXT, "
                        "category TEXT)")
            con.executemany("INSERT INTO data VALUES (?,?,?,?,?,?,?)",
                            [[int(r[0])] + r[1:] for r in messy])
            con.commit()
        finally:
            con.close()
    else:
        raise ValueError(f"unknown small format {fmt!r}")
    return path


def gen_etl_files(out: str, seed: int) -> dict:
    cfg = SETTINGS["workloads"]["etl_files"]
    rng = random.Random(seed)
    files = []
    next_id = 1
    for i, fmt in enumerate(cfg["small_formats"]):
        names = NAMES_LATIN1 if fmt == "csv_latin1" else NAMES_UNICODE
        truth, messy = _etl_rows(rng, cfg["small_rows"], names, next_id)
        next_id += len(truth)
        path = _write_small(fmt, os.path.join(out, f"small_{i:02d}_{fmt}"),
                            messy)
        files.append({"file": os.path.basename(path), "format": fmt,
                      "truth": truth})
    truth, messy = _etl_rows(rng, cfg["large_rows"], NAMES_UNICODE, next_id)
    _write_csv(os.path.join(out, "large.csv"), messy, "utf-8")
    files.append({"file": "large.csv", "format": "large_csv", "truth": truth})
    return {"columns": COLUMNS, "types": TYPES, "files": files}


# ---------------------------------------------------------- corpus_curation

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a",
             "in", "it", "for", "on", "as", "was", "this"]
CONTENT = ["river", "market", "garden", "signal", "harbor", "lantern",
           "meadow", "engine", "village", "library", "orchard", "canyon",
           "theory", "window", "winter", "silver", "letter", "pattern",
           "farmer", "museum", "journey", "kitchen", "mountain", "teacher",
           "circuit", "painter", "morning", "harvest", "station", "chapter",
           "ocean", "forest", "plumber", "measure", "island", "doctor",
           "thunder", "candle", "bridge", "valley", "castle", "poetry",
           "camera", "planet", "sailor", "cotton", "marble", "falcon"]


def _prose(rng: random.Random, n_words: int) -> str:
    words = []
    for j in range(n_words):
        words.append(rng.choice(STOPWORDS) if j % 3 == 1
                     else rng.choice(CONTENT))
    # two distinct English stopwords, so every prose text passes the
    # Gopher stopword rule however short it is
    words[1], words[4] = "the", "and"
    sents, k = [], 0
    while k < len(words):
        m = rng.randrange(8, 15)
        s = " ".join(words[k:k + m])
        sents.append(s[0].upper() + s[1:] + ".")
        k += m
    return " ".join(sents)


def _png(width: int, height: int, pixels: bytes) -> bytes:
    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    raw = b"".join(b"\x00" + pixels[y * width * 3:(y + 1) * width * 3]
                   for y in range(height))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 2,
                                         0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 9)) + chunk(b"IEND", b""))


def _pdf(text: str) -> bytes:
    esc = text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    content = zlib.compress(f"BT /F1 11 Tf 72 720 Td ({esc}) Tj ET".encode(
        "latin-1"), 9)
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
            + content + b"\nendstream",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref))
    return bytes(out)


def _docx(text: str) -> bytes:
    from xml.sax.saxutils import escape

    ns = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    members = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://'
            'schemas.openxmlformats.org/package/2006/content-types"><Default '
            'Extension="xml" ContentType="application/xml"/><Override '
            'PartName="/word/document.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.wordprocessingml.document.'
            'main+xml"/></Types>'),
        "word/document.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><w:document xmlns:w="{ns}">'
            f'<w:body><w:p><w:r><w:t>{escape(text)}</w:t></w:r></w:p>'
            '</w:body></w:document>'),
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in members.items():
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body)
    return buf.getvalue()


def _rtf(text: str) -> bytes:
    return ("{\\rtf1\\ansi\\deff0{\\fonttbl{\\f0 Times;}}\\f0\\fs24 "
            + text + "\\par}").encode("ascii")


def _tar_add(tar: tarfile.TarFile, name: str, data: bytes) -> None:
    info = tarfile.TarInfo(name)
    info.size = len(data)
    info.mtime = 0
    info.mode = 0o644
    tar.addfile(info, io.BytesIO(data))


def _warc_record(rid: int, url: str, html: str) -> bytes:
    body = html.encode("utf-8")
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            b"Content-Length: %d\r\n\r\n" % len(body)) + body
    head = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
            f"WARC-Date: 2024-01-01T00:00:00Z\r\nWARC-Record-ID: "
            f"<urn:uuid:00000000-0000-0000-0000-{rid:012d}>\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n").encode("ascii")
    return gzip.compress(head + http + b"\r\n\r\n", mtime=0)


def gen_corpus_curation(out: str, seed: int) -> dict:
    cfg = SETTINGS["workloads"]["corpus_curation"]
    rng = random.Random(seed)
    n_text = cfg["pages"] + cfg["documents"]
    bench = [_prose(rng, 40) for _ in range(cfg["benchmark_passages"])]
    n_exact = round(n_text * cfg["exact_dup_rate"])
    n_near = round(n_text * cfg["near_dup_rate"])
    n_cont = round(n_text * cfg["contamination_rate"])
    n_low = round(n_text * cfg["low_quality_rate"])
    n_base = n_text - n_exact - n_near
    # doc ids are shuffled over the sources so duplicates cross sources
    ids = list(range(1, n_text + 1))
    rng.shuffle(ids)
    base_ids = ids[:n_base]
    texts: dict[int, str] = {}
    kind: dict[int, str] = {}
    for j, i in enumerate(base_ids):
        if j < n_low:
            # fails the Gopher rules: too few words, mostly symbols
            texts[i] = " ".join(rng.choice(["#", "%%", "@@", "&&", "**"])
                                + str(rng.randrange(99)) for _ in range(20))
            kind[i] = "low_quality"
        elif j < n_low + n_cont:
            body = _prose(rng, 70)
            texts[i] = body + " " + rng.choice(bench)
            kind[i] = "contaminated"
        else:
            texts[i] = _prose(rng, rng.randrange(80, 140))
            kind[i] = "clean"
    clean_base = [i for i in base_ids if kind[i] == "clean"]
    exact_of: dict[str, int] = {}
    for i in ids[n_base:n_base + n_exact]:
        src = rng.choice(clean_base)
        texts[i] = texts[src]
        kind[i] = "exact_dup"
        exact_of[str(i)] = src
    near_of: dict[str, int] = {}
    for i in ids[n_base + n_exact:]:
        src = rng.choice(clean_base)
        words = texts[src].split(" ")
        k = rng.randrange(len(words))
        words[k] = rng.choice(CONTENT) + "."
        texts[i] = " ".join(words)
        kind[i] = "near_dup"
        near_of[str(i)] = src

    page_ids = sorted(ids[:cfg["pages"]])
    doc_ids = sorted(ids[cfg["pages"]:])
    os.makedirs(os.path.join(out, "warc"))
    with open(os.path.join(out, "warc", "crawl-00000.warc.gz"), "wb") as f:
        for i in page_ids:
            title = f"Page {i}"
            html = (f"<html><head><title>{title}</title></head><body>"
                    "<nav><a href='/'>Home</a> <a href='/about'>About</a>"
                    f"</nav><p>{texts[i]}</p><footer>site chrome</footer>"
                    "</body></html>")
            f.write(_warc_record(i, f"https://corpus.example/{i}", html))
    os.makedirs(os.path.join(out, "docs"))
    formats = cfg["document_formats"]
    doc_fmt = {}
    for n, i in enumerate(doc_ids):
        fmt = formats[n % len(formats)]
        body = {"pdf": _pdf, "docx": _docx, "rtf": _rtf,
                "txt.gz": lambda t: gzip.compress(t.encode(), mtime=0)}[fmt](
                    texts[i])
        with open(os.path.join(out, "docs", f"{i}.{fmt}"), "wb") as f:
            f.write(body)
        doc_fmt[str(i)] = fmt

    os.makedirs(os.path.join(out, "wds"))
    lo, hi = cfg["image_side"]
    images = {}
    n_img, n_sh = cfg["image_pairs"], cfg["wds_shards"]
    for s in range(n_sh):
        with tarfile.open(os.path.join(out, "wds", f"shard-{s:05d}.tar"),
                          "w", format=tarfile.USTAR_FORMAT) as tar:
            for k in range(s * n_img // n_sh, (s + 1) * n_img // n_sh):
                key = f"{k + 1:06d}"
                w, h = rng.randrange(lo, hi + 1), rng.randrange(lo, hi + 1)
                px = bytes(rng.randrange(256) for _ in range(w * h * 3))
                _tar_add(tar, f"{key}.png", _png(w, h, px))
                _tar_add(tar, f"{key}.txt", _prose(rng, 12).encode())
                images[key] = {"width": w, "height": h, "channels": 3,
                               "mean_pixel": sum(px) / len(px)}
    with open(os.path.join(out, "benchmark.json"), "w") as f:
        json.dump(bench, f)
    return {"texts": {str(i): t for i, t in texts.items()},
            "kind": {str(i): k for i, k in kind.items()},
            "page_ids": page_ids, "doc_ids": doc_ids, "doc_format": doc_fmt,
            "exact_dup_of": exact_of, "near_dup_of": near_of,
            "images": images, "benchmark": bench}


# ---------------------------------------------------------------- query_mix

TABLE_DIR = os.path.join(HERE, "data", "sf0.01")


def gen_query_mix(out: str, seed: int) -> dict:
    """Rewrite the read-only sf0.01 tables once into a multi-file split
    layout (same rows; parquet cannot split below a row group, so the
    single-file layout would run every scan on one core). The seed only
    sets the job order, which the harness derives; the tables do not
    depend on it."""
    import pyarrow.parquet as pq

    n_split = SETTINGS["workloads"]["query_mix"]["split_files"]
    tables = {}
    for name in sorted(os.listdir(TABLE_DIR)):
        table = pq.read_table(os.path.join(TABLE_DIR, name))
        dst = os.path.join(out, name)
        os.makedirs(dst)
        n = n_split if table.num_rows >= 10_000 else 1
        step = -(-table.num_rows // n)
        for k in range(n):
            pq.write_table(table.slice(k * step, step),
                           os.path.join(dst, f"part-{k:05d}.parquet"))
        tables[name.split(".")[0]] = table.num_rows
    return {"rows": tables}


GENERATORS = {"etl_files": gen_etl_files,
              "corpus_curation": gen_corpus_curation,
              "query_mix": gen_query_mix}


def cache_dir(root: str, workload: str, seed: int) -> str:
    """The cache directory of one workload's inputs. Its name holds a
    hash of what the inputs are built from (this file, the workload's
    settings and, for query_mix, the tables), so changed generators or
    sizes never reuse stale inputs."""
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    h.update(json.dumps(SETTINGS["workloads"][workload],
                        sort_keys=True).encode())
    if workload == "query_mix":
        for name in sorted(os.listdir(TABLE_DIR)):
            with open(os.path.join(TABLE_DIR, name), "rb") as f:
                h.update(name.encode() + f.read())
    # query_mix inputs do not depend on the seed: share one copy
    key = "shared" if workload == "query_mix" else f"seed-{seed}"
    return os.path.join(root, ".perfbench_cache", workload,
                        f"{key}-{h.hexdigest()[:16]}")


def ensure_inputs(root: str, workload: str, seed: int) -> str:
    """Build (or reuse) the cached inputs; returns the input directory."""
    final = cache_dir(root, workload, seed)
    if os.path.exists(os.path.join(final, "truth.json")):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    truth = GENERATORS[workload](tmp, seed)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f, ensure_ascii=False, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final
