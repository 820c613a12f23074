from tslib_spark.codec.chunks import decode_chunks, encode_chunks

__all__ = ["encode_chunks", "decode_chunks"]
