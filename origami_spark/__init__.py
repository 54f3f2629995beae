"""origami_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the computational semantics of
poke1024/origami's batch pipeline (page segmentation / separator detection /
XY-cut reading order / compose), re-expressed for Common-Crawl-style web
pages:

* origami's pixel segmentation  -> byte-stream tokenizer +
                                   DOM-node labeling         (html/tokenizer.py)
* raster->vector contours       -> DOM block extraction      (html/blocks.py)
* segment + contours stages     -> one Arrow parse kernel    (kernels/parse.py)
* flow/dewarp numeric kernel    -> per-block feature columns (operators/features.py)
* layout rule pipeline          -> relational span algebra   (operators/layout.py)
* XY-cut reading order          -> deterministic block order (operators/order.py)
* OCR + compose                 -> normalization + assembly  (operators/compose.py)

Everything relational runs through the DataFrame API so Catalyst optimizes
it; domain logic runs in Arrow-batched kernels (mapInPandas) with zero
per-row Python UDFs.  See SURVEY.md for the operator-by-operator mapping
with reference file:line citations.
"""

__version__ = "0.1.0"
