"""XML metadata export (SURVEY.md §2.1 S8; reference
``odmservices/export_service.py:120-389``).

The reference emits an ElementTree document describing each exported
series' site / variable / method / source / QC-level (and sparse qualifier /
sample / offset info). That is driver-side work over the tiny catalog +
dims — the only distributed step is collecting the catalog rows, which is
one row per series.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame


def export_series_metadata(catalog: DataFrame, path: str) -> str:
    """Write one <Series> element per catalog row; every column becomes a
    child element. The catalog frame is the seriescatalog
    (catalog.derive_catalog) with whatever dim attributes the caller has
    joined in."""
    root = ET.Element("Metadata")
    cols = catalog.columns
    for row in catalog.collect():
        series_el = ET.SubElement(root, "Series")
        for c in cols:
            v = row[c]
            if v is None:
                continue
            el = ET.SubElement(series_el, c)
            el.text = str(v)
    tree = ET.ElementTree(root)
    ET.indent(tree)
    tree.write(path, encoding="unicode", xml_declaration=True)
    return path
