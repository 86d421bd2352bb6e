"""PySpark-native main-content extraction engine.

Re-expresses the capabilities of the reference WHATWG-HTML tokenizer
(KorieDrakeChaney/html-parser) as a Spark-first pipeline over transcript
tables: quirk-exact tokenization + boilerplate-stripping extraction inside
Arrow-batched pandas UDFs, plus the dedup / similarity / text-analysis
operators a large-scale training-data pipeline needs.
"""

import os
import sys
import zipimport

__version__ = "0.2.0"

# A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
# start of every task (``pyspark.worker_util.setup_spark_files``).  Before
# Python 3.13 that makes every cached zipimporter re-read its archive's
# whole directory in pure Python: one importer per imported ``pyspark``
# package, each re-reading the 1,328 entries of ``pyspark.zip``, about
# 0.25 s of CPU per task before a UDF sees a row.  The archives do not
# change while a worker runs, so a worker keeps the directory each
# importer read first.  A worker imports this package when it unpickles
# a function that refers to package code (every extraction, link, dedup
# and media stage does), so from its next task on no task re-reads an
# archive; a function shipped by value that refers to no package code
# (the ``udx`` UDAFs) does not import it.  Only Python workers (the JVM
# sets PYTHON_WORKER_FACTORY_SECRET for them) are patched; a driver or a
# pure-Python consumer of the tokenizer keeps the stock behaviour.
if sys.version_info < (3, 13) and "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    zipimport.zipimporter.invalidate_caches = lambda self: None


def __getattr__(name):
    """Lazy top-level conveniences (kept lazy so importing the package
    never drags Spark in for pure-Python consumers of the tokenizer)."""
    lazy = {
        "tokenize": ("html_parser_spark.functions.tokenizer", "tokenize"),
        "extract": ("html_parser_spark.functions.extract", "extract"),
        "parse_html": ("html_parser_spark.functions.treebuilder", "parse_html"),
        "dom_extract": ("html_parser_spark.functions.domextract", "dom_extract"),
        "extract_pdf_text": ("html_parser_spark.functions.pdftext", "extract_pdf_text"),
    }
    if name in lazy:
        import importlib

        mod, attr = lazy[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(name)
