from prohap_spark.functions.genomics import reverse_complement, translate_cdna_expr
from prohap_spark.functions.encodings import (
    semi_list_to_array,
    array_to_semi_list,
    freq_map_to_string,
    string_to_freq_map,
)

__all__ = [
    "reverse_complement",
    "translate_cdna_expr",
    "semi_list_to_array",
    "array_to_semi_list",
    "freq_map_to_string",
    "string_to_freq_map",
]
