"""Hardware scaling ceilings for the 8->32-core efficiency figure.

    python scripts/bench_ceilings.py

Measures, at 8 and 32 processes on this host:
  alu     pure-interpreter integer loop (no memory traffic)
  memcpy  64 MB numpy buffer copies (pure memory bandwidth)
  kernel  the actual parse+sink kernel over one leaf body (no Spark)

Rationale (BENCH/BASELINE.md): the north rule's scaling criterion is
evidenced on ONE machine at two thread counts, so both levels share a single
memory bus. These ceilings separate what the *box* can scale from what the
*engine* does: if `alu` scales ~1.0x/core but `memcpy` saturates, any
workload touching memory inherits a sub-linear ceiling that per-node buses
on a real cluster would not impose.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SECONDS = 10


def _alu(q):
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < SECONDS:
        x = 0
        for i in range(100000):
            x += i * i
        n += 1
    q.put(n)


def _memcpy(q):
    import numpy as np

    a = np.zeros(64 * 1024 * 1024, dtype=np.uint8)
    b = np.ones(64 * 1024 * 1024, dtype=np.uint8)
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < SECONDS:
        a[:] = b
        n += 1
    q.put(n)


def _kernel(q):
    from frontier import parse as K
    from frontier.synth import _leaf_body
    from frontier.textnorm import decode_sitemap_body
    from frontier.udfs import _PageSink

    body = _leaf_body("host0.example.com", 0, 250).encode()
    url = "http://host0.example.com/leaf_0.xml"
    tmpd = tempfile.mkdtemp(dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    sink = _PageSink(tmpd, 0)
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < SECONDS:
        text = decode_sitemap_body(url, "application/xml", body, K.MAX_SITEMAP_BYTES)
        doc = K.parse_sitemap_text(url, text)
        sink.add_doc("http://host0.example.com/", url, "0.0", doc)
        n += 250
    sink.close()
    import shutil

    shutil.rmtree(tmpd, ignore_errors=True)
    q.put(n)


def run(fn, k: int) -> float:
    q = mp.Queue()
    ps = [mp.Process(target=fn, args=(q,)) for _ in range(k)]
    t0 = time.perf_counter()
    for p in ps:
        p.start()
    for p in ps:
        p.join()
    wall = time.perf_counter() - t0
    return sum(q.get() for _ in ps) / wall


def main() -> None:
    out = {}
    for name, fn in (("alu", _alu), ("memcpy", _memcpy), ("kernel", _kernel)):
        lo = run(fn, 8)
        hi = run(fn, 32)
        out[name] = {
            "per_sec_8": round(lo, 1),
            "per_sec_32": round(hi, 1),
            "eff_8_to_32": round((hi / lo) / 4, 3),
        }
        print(name, out[name], file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
