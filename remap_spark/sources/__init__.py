"""Source/sink registry — the reference's app-pluggable I/O factories
(create_mapper_reader / create_reducer_writer etc.,
/root/reference/examples/wordcount/wordcount.py:4-14, invoked at
/root/reference/daemons/core/module_mapper.py:30) become a format
registry: apps register a name -> reader/writer callable and jobs
select by name."""

from .readers import (
    adjacency_to_edges,
    read_adjacency,
    read_binary_files,
    read_csv,
    read_html_text,
    read_json,
    read_orc,
    read_parquet,
    read_text,
    read_warc,
    read_xml_elements,
    warc_http_text,
)
from .writers import (
    write_bucketed_table,
    write_csv,
    write_intermediate_text,
    write_json,
    write_orc,
    write_parquet,
    write_reduce_text,
)

SOURCES = {
    "text": read_text,
    "csv": read_csv,
    "parquet": read_parquet,
    "json": read_json,
    "orc": read_orc,
    "xml": read_xml_elements,
    "html": read_html_text,
    "adjacency": read_adjacency,
    "binary": read_binary_files,
    "warc": read_warc,
}

SINKS = {
    "parquet": write_parquet,
    "json": write_json,
    "orc": write_orc,
    "csv": write_csv,
    "reduce_text": write_reduce_text,
    "intermediate_text": write_intermediate_text,
}


def register_source(name: str, fn) -> None:
    """fn(spark, path, **opts) -> DataFrame"""
    SOURCES[name] = fn


def register_sink(name: str, fn) -> None:
    """fn(df, path, **opts) -> None"""
    SINKS[name] = fn


def read(spark, fmt: str, path: str, **opts):
    try:
        return SOURCES[fmt](spark, path, **opts)
    except KeyError:
        raise ValueError(
            f"unknown source format {fmt!r}; registered: {sorted(SOURCES)}"
        ) from None


def write(df, fmt: str, path: str, **opts) -> None:
    try:
        SINKS[fmt](df, path, **opts)
    except KeyError:
        raise ValueError(
            f"unknown sink format {fmt!r}; registered: {sorted(SINKS)}"
        ) from None


__all__ = [
    "SOURCES",
    "SINKS",
    "register_source",
    "register_sink",
    "read",
    "write",
    "read_text",
    "read_binary_files",
    "read_warc",
    "warc_http_text",
    "read_csv",
    "read_parquet",
    "read_json",
    "read_orc",
    "read_xml_elements",
    "read_html_text",
    "read_adjacency",
    "adjacency_to_edges",
    "write_parquet",
    "write_json",
    "write_orc",
    "write_csv",
    "write_bucketed_table",
    "write_reduce_text",
    "write_intermediate_text",
]
