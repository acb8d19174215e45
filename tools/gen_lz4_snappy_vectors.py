#!/usr/bin/env python3
"""Golden vectors for the LZ4 frame and Snappy raw decoders
(`operators/Lz4Snappy.scala`), produced by REAL reference encoders
(pyarrow's bundled lz4/snappy). Same discipline as
gen_zstd_vectors.py: plaintext recipes have byte-identical twins in
Lz4SnappyGoldenSpec.scala -- change BOTH or neither.

Dev-only tool (driver-side python); NOT part of the Scala library.
Regenerate with: python3 tools/gen_lz4_snappy_vectors.py
"""
import os

import pyarrow as pa


def xorshift_bytes(seed, n):
    x = seed & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    for _ in range(n):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        out.append(x & 0xFF)
    return bytes(out)


def plaintexts():
    yield "rep", ("lz4 and snappy golden " * 300).encode()
    yield "seq", bytes((i * 7 + 3) % 251 for i in range(100_000))
    yield "rand", xorshift_bytes(0x9E3779B97F4A7C15, 5000)
    yield "text", " ".join(f"w{(i * 31) % 97}" for i in range(20_000)).encode()
    yield "runs", b"a" * 10_000 + b"b" * 5_000 + b"abc" * 1_000
    yield "mix", b"".join(
        (b"record-%08d|" % i) + bytes((j * 13 + i) % 256 for j in range(52))
        for i in range(6_250))  # 400 KB -> multiple 64 KiB lz4 blocks
    yield "tiny", b"a"
    yield "empty", b""


def main():
    base = os.path.join(os.path.dirname(__file__), "..",
                        "src", "test", "resources")
    for codec, ext in [("lz4", "lz4"), ("snappy", "snappy")]:
        outdir = os.path.join(base, ext)
        os.makedirs(outdir, exist_ok=True)
        c = pa.Codec(codec)
        for name, data in plaintexts():
            comp = c.compress(data, asbytes=True)
            fn = os.path.join(outdir, f"{name}.{ext}")
            with open(fn, "wb") as f:
                f.write(comp)
            print(f"{codec} {name}: {len(data)} -> {len(comp)}")


if __name__ == "__main__":
    main()
