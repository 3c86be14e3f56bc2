"""LLM-data-pipeline extension operators (SURVEY.md §2 Part C).

- ``dedup``       — exact, MinHash-LSH (self-join + stored-signature
  incremental), SimHash, n-gram Jaccard, embedding cosine near-dup,
  connected-component duplicate groups.
- ``similarity``  — vector search: brute-force, LSH, IVF (in-memory /
  stored / appendable), k-means quantizer, PQ and composed IVF-PQ,
  SemDeDup semantic dedup.
- ``text``        — language ID, quality scoring, token counting,
  fingerprinting, TF-IDF, BM25, decontamination, packing, PII
  redaction, repetition stats, chunking, feature hashing, unigram LM
  and DSIR importance scoring.
- ``sessions``    — event sessionization (gap-and-islands).
- ``timeseries``  — bucket grids, LOCF gap-fill, robust outliers.
- ``sampling``    — deterministic splits, stratified samples, corpus mix.
- ``multimodal``  — binary-column plumbing; native image/audio codecs
  (PPM/PNM, PNG/APNG, GIF, BMP, QOI, TGA, TIFF, ICO, baseline,
  progressive and CMYK JPEG, WAV/AIFF/AU, G.711, IMA ADPCM) behind one
  per-row Arrow scaffold.
- ``maintenance`` — small-file compaction, column profiling, HLL
  sketch tables.
- ``geo``         — grid-bucketed spatial within-radius join.
- ``asof`` / ``rangejoin`` — ordered joins Spark SQL lacks natively.
"""


class CacheOwner:
    """Composite ``_bp_cache_owner``: the release convention hands the
    caller ONE object whose ``unpersist()`` frees every frame the
    operator pinned. Operators that persist more than one frame chain
    them here instead of leaving the extras with no release path."""

    def __init__(self, *frames):
        self._frames = [f for f in frames if f is not None]

    def unpersist(self, blocking: bool = False):
        for f in self._frames:
            f.unpersist(blocking)
        return self
