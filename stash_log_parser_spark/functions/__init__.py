from .parse import (  # noqa: F401
    CORPUS_SCHEMA,
    PARSED_COLUMNS,
    decode_tokens_sql,
    op_type_expr,
    parse_corpus,
    parse_lines,
    read_corpus,
)
