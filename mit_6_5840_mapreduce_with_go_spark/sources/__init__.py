from .tables import TABLE_NAMES, load_table
from .textfiles import WholeTextDataSource, read_whole_text_source
from .tfrecordfiles import TFRecordDataSource, read_tfrecord_source
from .warcfiles import WarcDataSource, read_warc_source

__all__ = [
    "TABLE_NAMES",
    "TFRecordDataSource",
    "WarcDataSource",
    "WholeTextDataSource",
    "load_table",
    "read_tfrecord_source",
    "read_warc_source",
    "read_whole_text_source",
]
