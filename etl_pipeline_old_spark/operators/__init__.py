"""Relational + large-scale data-pipeline operators.

``bitio`` is the one home for bit I/O and varints: the MSB- and LSB-first
bit readers and writers, unsigned LEB128 varints with a byte cap, and
zigzag.  Every codec here builds its bitstreams from it.  Two codecs keep
their own bit I/O, because a shared version would have to branch on its
caller: JPEG's reader and writer handle 0xFF byte stuffing and markers
inside the entropy-coded data, and zstd's ``_BackBits`` reads a stream
backwards from its end with zero-filled peeks past the start.

``compression`` is the one home for decompression: deflate, zlib, gzip,
bz2 and xz through the stdlib, snappy, zstd and LZ4 blocks through the
package's own decoders, all under one output ceiling (``MAX_OUTPUT``, or
a smaller size the container declares) and one error class,
``ValueError``.  Containers keep their own codec names and framing.
``xz`` and ``sevenzip`` keep a raw-filter ``LZMADecompressor`` each,
because the LZMA filter chain is part of their container format; both
pass ``max_length``.
"""
