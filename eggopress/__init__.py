"""eggopress — a PySpark-native per-column lightweight-compression engine.

Re-instantiates the capabilities of bigdatagenomics/eggo (reference at
/root/reference: ETL a corpus into an optimally-encoded, partitioned,
cataloged columnar store with provenance — see SURVEY.md) as an idiomatic
Spark-first engine over pre-tokenized training sequences
``(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)``.

Layout:
  codecs/    — numpy-vectorized lightweight codecs (dict, RLE, FSST,
               bit-pack, frame-of-reference) + sampled auto-selection
  generic.py — the column-chunk kernel (Arrow column <-> codec blobs)
               and the any-schema engine built on it
  encode.py  — salted repartition-by-range encode pipeline (mapInArrow)
  decode.py  — inverse pass; bit-identical reconstruction
  tablefmt.py— Iceberg-style table metadata layer (snapshots, atomic commit)
  lineage.py — resumable per-partition checkpoint table
  verify.py  — round-trip equality + compression-ratio checks
  synth.py   — deterministic corpus generator (FIXTURES.md)
  conf.py    — cluster-shape -> parallelism planning
               (eggo/operations.py:124-137 analog)
  pipeline/  — training-data ops: dedup, similarity search, text stats,
               multimodal plumbing
"""

__version__ = "0.1.0"
