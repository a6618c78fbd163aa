"""PySpark-native main-content extraction engine.

A from-scratch re-expression of the query/data-processing capabilities of the
reference converter (Trinq2003/document-converter) as a Spark DataFrame
pipeline over multi-turn transcript tables:

- ``extractor.kernel``    — the pure T2–T10 extraction function (Arrow-batched)
- ``extractor.pipeline``  — DataFrame pipeline: partition/salt/sort/extract,
                             plus per-partition lineage + throughput
                             metrics (``lineage_manifest``)
- ``extractor.checkpoint``— partition-level checkpoint + resume (a driver-side
                             set difference over the status table)
- ``extractor.publish``   — the directory commit (stage, swap, crash recovery)
                             behind every sink that replaces a directory
- ``extractor.transcripts``— deterministic synthetic transcripts generator
- ``extractor.ops``       — training-data-pipeline operators (dedup,
                             similarity, sampling, text stats, multimodal
                             plumbing, ...) and the shared ``md5_bucket``

Deployable via ``spark-submit --py-files extractor.zip`` (see scripts/make_zip.sh).
"""

__version__ = "0.1.0"
