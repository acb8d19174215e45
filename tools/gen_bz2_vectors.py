#!/usr/bin/env python3
"""Golden-vector generator for graft's bzip2 decoder
(`operators/Bzip2Decode.scala`): deterministic plaintexts -> REAL
libbz2 streams (via CPython's stdlib bz2 binding), written to
src/test/resources/bz2/<name>.bz2.

The spec (`Bzip2GoldenSpec`) regenerates the plaintexts with the SAME
deterministic recipes in Scala and asserts decoder(stream) == plaintext
— decoder-vs-reference-encoder, so encoder/decoder bug cancellation is
impossible by construction. Only the compressed streams are committed;
plaintexts are code.

Dev-only tool (driver-side python); NOT part of the Scala library.
Regenerate with: python3 tools/gen_bz2_vectors.py
"""
import bz2
import os


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
    # NOTE: every recipe here has a byte-identical twin in
    # Bzip2GoldenSpec.scala -- change BOTH or neither.
    yield "rep", ("hello bzip2 world " * 400).encode()
    yield "seq", bytes((i * 7 + 3) % 251 for i in range(100_000))
    yield "rand", xorshift_bytes(0x9E3779B97F4A7C15, 5000)
    yield "text", " ".join(f"w{(i * 31) % 97}" for i in range(20_000)).encode()
    # RLE1 shapes: runs of exactly 4, 4+251 (max count), >255
    yield "runs", (b"a" * 4 + b"x" + b"b" * 255 + b"c" * 1000 +
                   b"d" * 10_000 + b"abc" * 1_000)
    yield "mix", b"".join(
        (b"record-%08d|" % i) + bytes((j * 13 + i) % 256 for j in range(52))
        for i in range(6_250))
    yield "tiny", b"a"
    yield "empty", b""
    yield "onebyte", b"z" * 200_000
    yield "fewsym", bytes(b"abcd"[b & 3] for b in xorshift_bytes(42, 4000))
    # > 100_000 bytes at level 1 -> MULTI-BLOCK stream
    yield "blocks", b"".join(b"%06d:" % i + xorshift_bytes(i, 25)
                             for i in range(12_000))


def main():
    outdir = os.path.join(os.path.dirname(__file__), "..",
                          "src", "test", "resources", "bz2")
    os.makedirs(outdir, exist_ok=True)
    for name, data in plaintexts():
        for lvl in (1, 9):
            comp = bz2.compress(data, lvl)
            path = os.path.join(outdir, f"{name}_l{lvl}.bz2")
            with open(path, "wb") as f:
                f.write(comp)
            print(f"{name}_l{lvl}: {len(data)} -> {len(comp)} bytes")
    # multi-stream member: two independent streams concatenated (the
    # Wikipedia multistream layout)
    a = bz2.compress(b"first stream " * 50, 9)
    b = bz2.compress(b"second stream " * 30, 1)
    with open(os.path.join(outdir, "multi.bz2"), "wb") as f:
        f.write(a + b)
    print(f"multi: 2 members, {len(a)}+{len(b)} bytes")


if __name__ == "__main__":
    main()
