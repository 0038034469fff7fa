from .tables import TABLE_NAMES, load_table  # noqa: F401
from .corpus import read_text_corpus, strip_fasta, truncate_docs  # noqa: F401
from .files import read_csv, read_json, sample_schema, write_csv, write_json  # noqa: F401
from .connectors import read_jdbc, read_kafka_stream  # noqa: F401
