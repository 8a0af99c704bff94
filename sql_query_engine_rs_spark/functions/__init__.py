"""Expression helpers + large-scale data-pipeline operators.

- ``expressions`` — ``portable_round``, the cross-engine float rounding.
- ``text``        — language-ID, quality scoring, token counting, fingerprints.
- ``dedup``       — exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine.
- ``similarity``  — brute-force cosine top-k + LSH-bucketed ANN.
- ``multimodal``  — binary-column plumbing for image/audio/video payloads.
"""
