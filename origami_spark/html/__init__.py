"""Byte-offset-exact HTML tokenizer / tree builder / block extractor.

This is the web-text analog of origami's raster pipeline front half:

* ``tokenizer.build_tree`` — page bytes -> DOM node table (flat, document
  order) with byte spans: one regex token scan labels the bytes (analog of
  ``NetPredictor`` raster labeling, reference ``core/predict.py:158-301``:
  the "pixels" of a web page are its bytes) and a tag stack vectorizes
  them (analog of ``cv2.findContours``, ``core/contours.py:122-154``).
* ``blocks.extract_page``  — node table -> text blocks / separators / tables
  (analog of the contours stage output ``contours.0.zip``).

Pure Python + regex over *bytes* so every span is a true raw-byte offset
into the original document — the property the compose stage needs to emit
spans that index into the stored ``html`` column (rewarp analog,
reference ``batch/detect/compose.py:413-432``).
"""
