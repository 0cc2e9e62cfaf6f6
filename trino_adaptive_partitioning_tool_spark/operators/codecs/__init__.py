"""Pure-python media codecs behind the multimodal Codec seam.

One module per format family (png, webp, netpbm + bmp, gif, tiff, wav,
aiff, flac, jpeg, avi, y4m), each exposing ``parse``/``encode``, over
three shared layers: ``bitio`` (MSB/LSB bit readers and writers, JPEG
byte-stuffing as a mode), ``huffman`` (length-limited lengths, one
canonical code walk, symbol reads) and ``riff`` (one RIFF/IFF chunk
walker and writer). ``pixmap`` holds PixmapCodec and its format table.
"""
