package graft

import graft.media.ImageDecode.Decoded

/** Test-side image builders: the PNG encoder and the EXIF splicer the
  * decode specs feed into the live `ImageDecode.loadImage`. ImageIO cannot
  * write EXIF itself, so a JPEG carrying an orientation tag is an
  * ImageIO-encoded JPEG with a hand-built APP1 segment spliced in.
  */
object ImageFixtures {

  /** Encode RGB pixels as PNG bytes through ImageIO. */
  def encodePng(d: Decoded): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(d.width, d.height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](d.width * d.height)
    var i = 0
    while (i < px.length) {
      px(i) = ((d.rgb(i * 3) & 0xFF) << 16) | ((d.rgb(i * 3 + 1) & 0xFF) << 8) | (d.rgb(i * 3 + 2) & 0xFF)
      i += 1
    }
    img.setRGB(0, 0, d.width, d.height, px, 0, d.width)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A minimal `Exif\0\0` + TIFF payload carrying only the orientation tag. */
  def exifSegment(orientation: Int, littleEndian: Boolean): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(32)
      .order(if (littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    b.put("Exif".getBytes); b.put(0.toByte); b.put(0.toByte)
    b.put((if (littleEndian) "II" else "MM").getBytes)
    b.putShort(0x2A.toShort)
    b.putInt(8) // IFD0 right after header
    b.putShort(1.toShort) // one entry
    b.putShort(0x0112.toShort)
    b.putShort(3.toShort) // SHORT
    b.putInt(1)
    b.putShort(orientation.toShort)
    b.putShort(0.toShort)
    b.putInt(0) // next-IFD pointer: none
    b.array()
  }

  /** Splice an APP1 segment right after SOI in a JPEG byte stream. */
  def spliceApp1(jpeg: Array[Byte], payload: Array[Byte]): Array[Byte] = {
    require(jpeg.length > 3 && (jpeg(0) & 0xFF) == 0xFF && (jpeg(1) & 0xFF) == 0xD8, "not a JPEG")
    val len = payload.length + 2
    val out = new java.io.ByteArrayOutputStream()
    out.write(jpeg, 0, 2)
    out.write(0xFF); out.write(0xE1)
    out.write((len >> 8) & 0xFF); out.write(len & 0xFF)
    out.write(payload)
    out.write(jpeg, 2, jpeg.length - 2)
    out.toByteArray
  }
}
