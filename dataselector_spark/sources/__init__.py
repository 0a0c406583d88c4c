"""Sources & sinks (SURVEY.md §2 B1, A1/A2).

`reference` ingests the reference widget's own JSON layout; the storage
layout writers (z-order clustering, small-files compaction) are
`operators.layout`. Delta/Iceberg-style table formats need jars not present
in this container — gate behind import-try if ever added.
"""
