"""Seeded input generator for the ingest workloads.

Every file is written here from a `random.Random(seed)` stream, and the
manifest records the size and CRC32 of every file and every archive
member from the bytes this module wrote (never from the library's
extractors). The library only ever sees the files.

Layout under `root`:
  srv/<server>/<file>        the five served directories (3 FTP, 2 SFTP)
  delta/<i>/<server>/<file>  ingest_rerun: files added or rewritten
                             before scheduled run i
  manifest.json              {servers: {<server>: {scheme, port,
                             files: {name: {size, crc, mtime, members}}}},
                             deltas: [{<server>: {name: {...}}}]}
"""
import gzip
import io
import json
import math
import os
import random
import tarfile
import zipfile
import zlib

# Five loopback servers, split as in the reference corpus: three FTP
# hosts and two SFTP hosts. The port only names the server folder; the
# loopback servers bind ephemeral ports.
SERVERS = [
    ("ftp1", "ftp", 2101), ("ftp2", "ftp", 2102), ("ftp3", "ftp", 2103),
    ("sftp1", "sftp", 2201), ("sftp2", "sftp", 2202),
]

# The reference's sanitize table (tests/test_basic.py). A served name
# cannot hold '/', '\\' (the loopback servers refuse path separators) or
# NUL, so those become '#', '^' and \x01, which sanitize the same way.
HOSTILE = [
    "file@name!.zip",
    "   file name with spaces.txt   ",
    "file.name.with.dots.zip",
    "___filename--.txt",
    "file#name^with?illegal%chars*here:too|and\"quotes<and>more.txt",
    "filename\x01with\x1fcontrolchars.txt",
    "fileñame😀with_unicode_chars.txt",
    "-filename-.txt-",
    "file--name---with--multiple---hyphens.txt",
]

BASE_MTIME = 1_700_000_000


def crc(b):
    return zlib.crc32(b) & 0xFFFFFFFF


class Writer:
    def __init__(self, root, seed):
        self.root = root
        self.rnd = random.Random(seed)
        self.servers = {name: {"scheme": scheme, "port": port, "files": {}}
                        for name, scheme, port in SERVERS}

    def jitter(self, n):
        """A size within 3% of `n`, so each seed makes different inputs."""
        return max(1, int(n * self.rnd.uniform(0.97, 1.03)))

    def blob(self, n):
        return self.rnd.randbytes(n)

    def put(self, server, name, data, members=None, mtime=BASE_MTIME, sub="srv"):
        d = os.path.join(self.root, sub, server)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, name)
        with open(path, "wb") as f:
            f.write(data)
        os.utime(path, (mtime, mtime))
        return {"size": len(data), "crc": crc(data), "mtime": mtime, "members": members}

    def add(self, server, name, data, members=None, mtime=BASE_MTIME):
        self.servers[server]["files"][name] = self.put(server, name, data, members, mtime)

    def zip(self, members):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
            for n, b in members:
                z.writestr(n, b)
        return buf.getvalue(), {n.split("/")[-1]: {"size": len(b), "crc": crc(b)}
                                for n, b in members}

    def tar_gz(self, members):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w:gz", compresslevel=1) as t:
            for n, b in members:
                info = tarfile.TarInfo(n)
                info.size = len(b)
                info.mtime = BASE_MTIME
                t.addfile(info, io.BytesIO(b))
        return buf.getvalue(), {n.split("/")[-1]: {"size": len(b), "crc": crc(b)}
                                for n, b in members}

    def gz(self, n):
        return gzip.compress(self.blob(n), compresslevel=1, mtime=0)

    def manifest(self, deltas=()):
        m = {"servers": self.servers, "deltas": list(deltas)}
        with open(os.path.join(self.root, "manifest.json"), "w") as f:
            json.dump(m, f)
        return m


def cold(root, seed, scale=1.0, sftp_pdf_bytes=1_000_000):
    """BASELINE.md's file-size profile (379 B - 12.9 MB) on five servers.

    `scale` shrinks every payload (smoke mode). The SFTP-served PDF is
    `sftp_pdf_bytes` instead of the reference's 11.9 MB: see README.md,
    loopback SFTP moves about 0.4 MB/s, so the full file alone would
    outlast the measurement window.
    """
    w = Writer(root, seed)
    s = lambda n: max(1, int(w.jitter(n) * scale))
    # ftp1 (ftp.gnu.org): a source tarball of thousands of small members.
    members, total, i = [], 0, 0
    while total < s(12_400_000):
        n = int(min(65536, max(64, w.rnd.lognormvariate(7.6, 1.0))))
        members.append((f"gcc-2.95.1/d{i % 97:02d}/f{i:05d}.c", w.blob(n)))
        total += n
        i += 1
    w.add("ftp1", "gcc-2.95.1.tar.gz", *w.tar_gz(members))
    w.add("ftp1", "find.txt.gz", w.gz(s(252_000)))
    w.add("ftp1", "ls-lrRt.txt.gz", w.gz(s(485_600)))
    # ftp2 (ftp.freebsd.org): a PDF and a small docs tarball.
    w.add("ftp2", "faq_en.pdf", b"%PDF-1.4\n" + w.blob(s(231_344)))
    w.add("ftp2", "faq_en.tar.gz", *w.tar_gz(
        [(f"faq/sec{j:02d}.html", w.blob(s(33_000))) for j in range(20)]))
    # ftp3 (ftp.debian.org + the reference's localhost server): the 5 MB
    # random-member zip and a small zip.
    w.add("ftp3", "test_file.zip", *w.zip([("temp_file.txt", w.blob(s(5_242_880)))]))
    w.add("ftp3", "mime-support.zip", *w.zip(
        [(f"mime-support/m{j}.txt", w.blob(s(9_000))) for j in range(3)]))
    # sftp1 (test.rebex.net): the three small files.
    w.add("sftp1", "readme.txt", w.blob(s(379)))
    w.add("sftp1", "KeyGenerator.png", b"\x89PNG\r\n\x1a\n" + w.blob(s(36_664)))
    w.add("sftp1", "WinFormClient.png", b"\x89PNG\r\n\x1a\n" + w.blob(s(79_992)))
    # sftp2 (demo.wftpserver.com): the large PDF, scaled (see docstring).
    w.add("sftp2", "manual_en.pdf", b"%PDF-1.4\n" + w.blob(s(sftp_pdf_bytes)))
    hostile(w, ("ftp3", "sftp1"))
    return w.manifest()


def hostile(w, servers):
    """The sanitize table's names, as plain files and as zips whose
    members carry hostile names too, on each of `servers`."""
    for server in servers:
        for name in HOSTILE:
            if name.endswith(".zip"):
                w.add(server, name, *w.zip([("in?side*" + name[:-4] + ".txt", w.blob(700)),
                                            ("plain.txt", w.blob(300))]))
            else:
                w.add(server, name, w.blob(w.rnd.randint(100, 2000)))


def small(w):
    """A log-uniform size between 200 B and 16 KB."""
    return w.blob(int(math.exp(w.rnd.uniform(5.3, 9.7))))


# Share of the ingest_rerun files on each server. A loopback SFTP fetch
# of a small file costs about 350 ms against 43 ms over FTP, and the
# set-up ingests the whole corpus, so the SFTP servers hold 5% of it.
RERUN_SPLIT = {"ftp1": 0.32, "ftp2": 0.32, "ftp3": 0.31, "sftp1": 0.025, "sftp2": 0.025}


def rerun(root, seed, files=1000, deltas=64, new_share=0.025, rewrite_share=0.0025):
    """A thousand and more small files (200 B - 16 KB) over the same five
    servers, plus `deltas` seeded deltas: each adds `new_share` new files
    and rewrites `rewrite_share` existing ones with a new size and a
    later mtime (same name), like the daily `ls-lR` file."""
    w = Writer(root, seed)
    names = [s for s, _, _ in SERVERS]
    exts = ["txt", "csv", "json", "log", "dat"]
    owner = [s for s in names for _ in range(round(files * RERUN_SPLIT[s]))]
    for i, server in enumerate(owner):
        w.add(server, f"{server}_{i:05d}.{exts[i % len(exts)]}", small(w), mtime=BASE_MTIME + i)
    hostile_plain = [n for n in HOSTILE if not n.endswith(".zip")]
    for server in ("ftp3", "sftp1"):
        for name in hostile_plain:
            w.add(server, name, small(w))
    out = []
    n_new = max(1, round(files * new_share))
    n_rw = max(1, round(files * rewrite_share))
    for d in range(deltas):
        delta = {}
        sub = os.path.join("delta", str(d))
        for j in range(n_new):
            server = names[(d + j) % len(names)]
            delta.setdefault(server, {})[f"new_{d:03d}_{j:03d}.txt"] = w.put(
                server, f"new_{d:03d}_{j:03d}.txt", small(w), mtime=BASE_MTIME + 86_400 + d, sub=sub)
        for j in range(n_rw):
            server = names[w.rnd.randrange(len(names))]
            name = w.rnd.choice(sorted(n for n in w.servers[server]["files"] if not n.startswith(" ")))
            old = w.servers[server]["files"][name]["size"]
            data = small(w)
            while len(data) == old:
                data = small(w)
            delta.setdefault(server, {})[name] = w.put(
                server, name, data, mtime=BASE_MTIME + 86_400 + d, sub=sub)
        out.append(delta)
    return w.manifest(out)
