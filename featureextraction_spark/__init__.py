"""featureextraction_spark — a PySpark-native point-in-time feature-engineering engine.

Built from scratch (NOT a port) with the query/data-processing capabilities of
the reference repo ``matthijsruben/FeatureExtraction`` (a per-entity,
order-sensitive sequence feature extractor feeding a feature store — see
SURVEY.md), re-expressed Spark-first over a transcript table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``:

- as-of / backward merge join (``operators.asof``) — plain and salt-bucketed
- lag/lead + stable ordering (``operators.ordering``)
- gap-based sessionization via cumulative-sum session ids
  (``operators.sessionize``)
- rolling backfill / forward-fill (``operators.backfill``)
- transition counts & run-length encoding (``operators.transitions``,
  ``operators.runlength``)
- reference-parity feature families transposed onto per-conversation numeric
  series (``functions.*``), assembled point-in-time at query probes with zero
  temporal leakage (``plans.feature_pipeline``)
- large-scale training-data ops: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine), ANN similarity search, text analysis,
  multimodal binary-column plumbing
- checkpoint manifest with per-partition lineage for mid-job resume
  (``streaming.manifest``)

Everything is DataFrame transforms + vectorized pandas/Arrow UDFs; zero
per-row Python in any hot path.
"""

__version__ = "0.1.0"
