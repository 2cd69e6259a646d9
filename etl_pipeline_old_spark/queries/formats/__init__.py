"""Registry entries: additional file-format sources, one module per family.

The reference's ingress is CSV/JSON/DB-driven, but a Spark-first engine
gets the columnar, semi-structured and blob formats from the same
DataFrameReader surface, so the engine exposes them as first-class
sources.  Each query stages real files in the target format with a
distributed write (no driver-side collect), reads them back through the
engine, and is hash-checked against the original parquet — so schema
mapping, type fidelity, and escaping are oracle-verified end-to-end.

Scale notes (100 TB): every stage+read here is a pure distributed write
followed by a pure distributed scan.  binaryFile is the scale path for
multimodal ingestion (each image/audio blob = one file row); ``wholetext``
is only for small-document corpora (one file must fit in one task's
memory).

``queries._MODULES`` lists the slices in registry order, and a slice
imports only slices listed before it.
"""
