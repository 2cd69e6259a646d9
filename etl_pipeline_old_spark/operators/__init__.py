"""Relational + large-scale data-pipeline operators.

``bitio`` is the one home for bit I/O and varints: the MSB- and LSB-first
bit readers and writers, unsigned LEB128 varints with a byte cap, and
zigzag.  Every codec here builds its bitstreams from it.  Two codecs keep
their own bit I/O, because a shared version would have to branch on its
caller: JPEG's reader and writer handle 0xFF byte stuffing and markers
inside the entropy-coded data, and zstd's ``_BackBits`` reads a stream
backwards from its end with zero-filled peeks past the start.
"""
