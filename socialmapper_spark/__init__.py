"""socialmapper_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-creates the query semantics of mihiarc/socialmapper (reference at
/root/reference, v0.6.1) as a general spatial enrichment engine over
Common-Crawl-style web-page tables:

    pages(url, warc_ts, html, text, lang)
      → geoparse (lat/lon + place mentions, byte-identical per url)
      → hierarchical cell index (H3-style, res 7-9)
      → two-phase point-in-polygon join vs broadcast polygon tables
      → kNN POI lookup (cell k-ring expansion / broadcast brute force)
      → census pivot-join + demographic aggregation
      → raster↔vector (tiled pixel tables, hotspot vectorize)
      → per-partition lineage + checkpoint resume

plus the training-data-pipeline operator families over documents /
embeddings / events tables: exact + MinHash-LSH + SimHash dedup,
cosine/LSH/IVF similarity search, embedding near-dup pairs, text quality
and language-ID scoring, multimodal binary-column plumbing, event-time
windowing (batch + Structured Streaming twins) and sessionization,
explicit skew salting, and Iceberg-or-parquet table IO.

Architecture is Spark-first: DataFrame/SQL plans optimized by Catalyst,
pure column expressions on the hot path (cell encode, haversine, geoparse
regex, sentinel cleansing and the exact polygon refine — ``pip_refine_expr``
— are all JVM-side), static sides (polygon index, kNN POIs) built once on
the driver as local tables, and Arrow UDFs only where built-ins cannot
express the semantics (probe-side Albers projection). Zero per-row Python.

No third-party geo libraries are required: the container lacks h3 /
shapely / pyproj, so `socialmapper_spark.geo` implements a deterministic
pure-numpy kernel (grid cells with k-ring adjacency, ray-casting PIP,
ellipsoidal Albers EPSG:5070 forward transform, minimal WKB).
"""

__version__ = "0.1.0"
